"""Fused segment+score+decode+dedup+assemble stage as one mapInPandas.

This is the engine's single Python compute stage (SURVEY.md §2.14): one
document row in -> one row out carrying the document's mention and triple
arrays (`extract_docs_df`), Arrow-batched, no per-row Spark UDFs. The
heavy lifting per batch is numpy inside theta_spark.operators.scoring; a
real transformer model slots in behind the same (seg_texts -> spans)
contract (reference model heads M1-M9, theta/nlp/tasks/task_ner.py:348-445,
theta/nlp/tasks/ner_models.py).
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from theta_spark.operators.scoring import extract_mentions, extract_mentions_batch

MENTION_RAW_SCHEMA = (
    "doc_id string, seg_id int, s_seg int, category_id int, "
    "start int, end int, mention string, indent int"
)


def _batch_doc_mentions(texts, seg_len: int, seg_stride: int, confidence: float,
                        scorer, decoder: str, gp_max_span: int):
    """One Arrow batch of documents -> one mention list per document.

    Segments every doc, then scores ALL segments of the batch in a SINGLE
    scorer call (scoring.score_texts): a batched model (MLPScorer, or any
    transformer behind the contract) runs one chunked gather+matmul over
    the concatenated token matrix instead of one tiny forward per 126-char
    segment — the reference's DataLoader batching (task_ner.py:86-101,
    622-664) re-expressed at the Arrow-batch boundary. Decode + un-shift +
    dedup then walk per doc (shared merge_segment_mentions)."""
    from theta_spark.reference_impl import merge_segment_mentions, segment_offsets

    segs_per_doc = [segment_offsets(t, seg_len, seg_stride) for t in texts]
    flat_texts, flat_vis = [], []
    for segs in segs_per_doc:
        for off, stext in segs:
            flat_texts.append(stext)
            flat_vis.append(off == 0)
    per_seg = extract_mentions_batch(
        flat_texts, flat_vis, confidence, scorer=scorer, decoder=decoder, gp_max_span=gp_max_span
    )
    out, i = [], 0
    for segs in segs_per_doc:
        out.append(merge_segment_mentions(segs, per_seg[i : i + len(segs)]))
        i += len(segs)
    return out


DOC_SCHEMA = (
    "doc_id string, sha256 string, "
    "mentions array<struct<category_id:int,start:int,end:int,mention:string,indent:int>>, "
    "triples array<struct<subj:string,pred:string,obj:string>>"
)


def extract_docs_df(docs_df: DataFrame, seg_len: int, seg_stride: int, confidence: float = 0.0,
                    scorer=None, decoder: str = "span", gp_max_span: int = 64) -> DataFrame:
    """Fused per-document stage: sliding-window segmentation + score +
    decode + un-shift + order-preserving dedup + triple assembly in ONE
    mapInPandas — the reference's per-guid dataflow (task_ner.py:183-233
    segmentation, 594-654 decode, 1391-1415 merge/dedup) executed per
    Arrow batch. One row per input document (DOC_SCHEMA): its deduped
    mentions and its sorted, distinct triples; a zero-yield document keeps
    its row with empty arrays.

    Why fuse: segmentation is a narrow fan-out, so all segments of a doc
    are born colocated; running dedup relationally forces a shuffle of the
    ~5x-expanded raw-mention stream that carries zero information (the
    duplicates it removes are window-overlap artifacts local to one doc),
    and triples are a per-doc pure function of the doc's mention list, so
    assembling them relationally adds a string-keyed window sort over the
    whole mention stream. Here both come out of the same scoring pass;
    `mentions` and `triples` are projections (inline) of this frame. The
    relational segment()+score_and_decode()+dedup+assemble_triples
    operators remain the operator-level contract it is tested equal to.

    Carries the per-row sha256(content) invariant (input_hint).

    `scorer` (picklable; weights ride the task closure like a broadcast
    model checkpoint) and `decoder` ("span"/"crf") select the model and
    decode walk — see operators.scoring / operators.neural.
    """
    from theta_spark.reference_impl import assemble_doc_triples

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            doc_ids = list(pdf["doc_id"])
            per_doc = _batch_doc_mentions(
                list(pdf["text"]), seg_len, seg_stride, confidence, scorer, decoder, gp_max_span
            )
            yield pd.DataFrame({
                "doc_id": doc_ids,
                "sha256": list(pdf["sha256"]),
                "mentions": [
                    [(m["category_id"], m["start"], m["end"], m["mention"], m["indent"]) for m in ms]
                    for ms in per_doc
                ],
                "triples": [
                    sorted((s, p, o) for s, p, o, _ in assemble_doc_triples(ms, doc_id))
                    for doc_id, ms in zip(doc_ids, per_doc)
                ],
            })

    return docs_df.select("doc_id", "sha256", "text").mapInPandas(run, DOC_SCHEMA)


MRC_SCHEMA = (
    "doc_id string, predicate string, role string, category_id int, "
    "start int, end int, mention string"
)


class _BoundCond:
    """Adapter binding a predicate to a CondMLPScorer so it satisfies the
    plain scorer contract score_text(text, visible_start) the shared
    segment loop expects."""

    def __init__(self, cond_scorer, cond_key: str):
        self._s, self._k = cond_scorer, cond_key

    def score_text(self, text: str, visible_start: bool = True):
        return self._s.score_text_cond(text, self._k, visible_start)


def mrc_extract(
    docs_df: DataFrame,
    predicates: DataFrame,
    seg_len: int = 126,
    seg_stride: int = 63,
    cond_scorer=None,
) -> DataFrame:
    """M5 MRC-style per-predicate conditioned extraction (reference:
    theta/nlp/tasks/ner_models.py:306-443, ConditionalLayerNorm at
    theta/modules/modules.py:95-136; join shape per SURVEY.md §2.12 —
    crossJoin with the broadcast predicate dim).

    `predicates` is a small dim (predicate, subj_category, obj_category).
    Each (doc x predicate) pair is scored by the same batched stage, the
    predicate conditioning the extraction two ways:

    - default (cond_scorer=None): the deterministic stand-in scores each
      doc once and the predicate filters which span roles survive —
      decode-level conditioning, oracle-reproducible;
    - cond_scorer=CondMLPScorer (operators.neural): the predicate
      conditions the ENCODER itself — hidden states pass through
      ConditionalLayerNorm keyed by the predicate before the pointer
      heads, the reference's actual MRC mechanism — so each (doc,
      predicate) pair is scored with predicate-specific representations.

    Output rows are (doc, predicate, role in {subject, object}, span)."""
    from theta_spark.reference_impl import extract_doc_mentions

    paired = docs_df.select("doc_id", "text").crossJoin(F.broadcast(predicates))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from theta_spark.config import ID2LABEL

        # one-entry cache: the broadcast crossJoin emits all predicate
        # copies of a doc consecutively, so a last-doc cache scores each doc
        # once while keeping per-partition memory O(1) regardless of
        # partition size (an unbounded dict here is a leak at scale)
        last_doc_id, last_mentions = None, None
        for pdf in batches:
            out = {k: [] for k in ("doc_id", "predicate", "role", "category_id", "start", "end", "mention")}
            for doc_id, text, pred, subj_cat, obj_cat in zip(
                pdf["doc_id"], pdf["text"], pdf["predicate"], pdf["subj_category"], pdf["obj_category"]
            ):
                if cond_scorer is not None:
                    # encoder conditioned on the predicate: every (doc,
                    # predicate) pair gets its own forward pass (no cross-
                    # pair cache possible — representations differ by pred)
                    last_mentions = extract_doc_mentions(
                        text, seg_len, seg_stride, 0.0, scorer=_BoundCond(cond_scorer, pred)
                    )
                elif doc_id != last_doc_id:  # score once per doc, condition per predicate
                    last_doc_id = doc_id
                    last_mentions = extract_doc_mentions(text, seg_len, seg_stride, 0.0)
                for m in last_mentions:
                    cat_name = ID2LABEL[m["category_id"]]
                    role = (
                        "subject" if cat_name == subj_cat else "object" if cat_name == obj_cat else None
                    )
                    if role is None:
                        continue
                    out["doc_id"].append(doc_id)
                    out["predicate"].append(pred)
                    out["role"].append(role)
                    out["category_id"].append(m["category_id"])
                    out["start"].append(m["start"])
                    out["end"].append(m["end"])
                    out["mention"].append(m["mention"])
            yield pd.DataFrame(out)

    return paired.mapInPandas(run, MRC_SCHEMA)


def score_and_decode(seg_df: DataFrame, confidence: float = 0.0) -> DataFrame:
    """segments(doc_id, seg_id, s_seg, seg_text) -> raw mentions in the
    *segment* frame (start/end are seg-local char offsets)."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {
                "doc_id": [], "seg_id": [], "s_seg": [], "category_id": [],
                "start": [], "end": [], "mention": [], "indent": [],
            }
            for doc_id, seg_id, s_seg, seg_text in zip(
                pdf["doc_id"], pdf["seg_id"], pdf["s_seg"], pdf["seg_text"]
            ):
                for cat, cs, ce, mention, indent in extract_mentions(
                    seg_text, confidence, visible_start=(s_seg == 0)
                ):
                    out["doc_id"].append(doc_id)
                    out["seg_id"].append(seg_id)
                    out["s_seg"].append(s_seg)
                    out["category_id"].append(cat)
                    out["start"].append(cs)
                    out["end"].append(ce)
                    out["mention"].append(mention)
                    out["indent"].append(indent)
            yield pd.DataFrame(out)

    cols = seg_df.select("doc_id", "seg_id", "s_seg", "seg_text")
    return cols.mapInPandas(run, MENTION_RAW_SCHEMA)
