"""Pipeline configuration.

Mirrors the reference's segmentation/decoding knobs:
- seg_len = max_length - 2, seg_stride = seg_len // 2 (50% overlap)
  (reference: theta/nlp/tasks/task_ner.py:184-186,231)
- confidence threshold for decode zeroing (task_ner.py:617-627, default 0.5
  at theta/__main__.py:115-116 — we default 0.0 like decode_ents' signature)

There is no switch between physical extraction plans: every run scores
each document once in the fused per-doc stage (operators/extract.py), and
incremental runs always commit the row stages delta-only.
"""

from __future__ import annotations

from dataclasses import dataclass


# 1-based category ids; 0 reserved = "no entity"
# (reference: theta/nlp/data/samples.py:221-227)
NER_LABELS = ["function", "class", "module", "variable", "library", "call"]
LABEL2ID = {c: i + 1 for i, c in enumerate(NER_LABELS)}
ID2LABEL = {i + 1: c for i, c in enumerate(NER_LABELS)}

PREDICATES = ["defines", "imports", "calls", "contains", "instance_of"]


@dataclass
class PipelineConfig:
    max_length: int = 128          # tokenizer max length (reference default shape)
    confidence: float = 0.0        # decode confidence threshold
    # model head selection (M1-M5/M9): both scorers satisfy the same
    # seg_texts -> (start_probs, end_probs, offsets) contract and run
    # through the identical fused mapInPandas stage; both decoders walk
    # the same prob tensors
    scorer: str = "rule"           # "rule" | "mlp" | path to .npz weights
                                   # (checkpoint inference via sources.registry)
    decoder: str = "span"          # "span" (D1 pointer pairing) | "crf" (M3
                                   # Viterbi) | "globalpointer" (span-matrix NMS)
    gp_max_span: int = 64          # globalpointer only: widest span (tokens)
                                   # the banded span matrix scores; spans
                                   # longer than this are not representable
                                   # by that head (decoder="span" has no cap)
    # canonicalization
    shingle_k: int = 3
    minhash_rows: int = 16         # signature length
    lsh_bands: int = 4             # 16 hashes / 4 bands = 4 rows/band ->
                                   # LSH threshold ~(1/4)^(1/4)=0.71: 98.6%
                                   # recall at jaccard 0.9 while admitting
                                   # only ~42% of j~0.6 noise pairs (numeric-
                                   # suffix identifier families are the
                                   # candidate-volume driver at scale)
    # 0.9 merges true near-dups (shared_util/shared_utils: 9/10 shingles)
    # while keeping sibling identifiers apart (helper3_1/helper3_2: 0.75);
    # 0.5 was measured to collapse the 500-doc corpus to ~50 components
    jaccard_threshold: float = 0.9
    cc_max_iters: int = 20
    # scale knobs
    delta_max_chain: int = 8       # auto-flatten a delta stage back into a
                                   # self-contained snapshot once this many
                                   # incremental runs have chained (each
                                   # link costs read_stage one anti-join);
                                   # the Iceberg compaction-policy twin.
    salt_buckets: int = 8          # salting for skewed canonical entities

    @property
    def seg_len(self) -> int:
        # reference: task_ner.py:184 (seg_len = max_length - 2)
        return self.max_length - 2

    @property
    def seg_stride(self) -> int:
        # reference: task_ner.py:185 (seg_stride = int(seg_len / 2))
        return self.seg_len // 2
