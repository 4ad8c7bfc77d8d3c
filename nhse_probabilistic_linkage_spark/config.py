"""Engine configuration.

The reference keeps its model state (blocking rules, comparison levels,
thresholds) as a JSON settings dict persisted to a Delta table
(/root/reference/utils/model_utils.py:107-158,
/root/reference/parameters_dedupe.py:23-54). Ours is a frozen dataclass with
JSON round-trip so a run manifest can pin the exact detector config.
"""

from __future__ import annotations

import json
from dataclasses import asdict, dataclass


@dataclass(frozen=True)
class DedupConfig:
    """Knobs for the near-duplicate pipeline.

    Defaults follow the north-star config: 5-gram shingles, 128-perm MinHash.
    bands * rows_per_band must equal num_perms. With b=32, r=4 the LSH
    S-curve gives collision probability 1-(1-s^4)^32: ~0.9998 at s=0.7 and
    ~1-5e-8 at s=0.8 — i.e. recall >= 0.99 for true pairs at or above the
    verification threshold, with the false-candidate tail removed by the
    exact-Jaccard verify join.
    """

    shingle_k: int = 5
    num_perms: int = 128
    bands: int = 32
    rows_per_band: int = 4
    jaccard_threshold: float = 0.7
    # Hot-band guard: bands larger than this are dropped from pair generation
    # (reference analog: blocking rules are hand-tuned to be selective and the
    # candidate-count histogram gauges blocking quality,
    # /root/reference/notebooks_dedupe/blocking_evaluation_dedupe.py:91-117).
    # Drops are counted and logged — never silent.
    band_cap: int = 5000
    # Hot-band salting (north rule: "salted band keys"): bands larger than
    # salt_threshold but under the cap keep ALL their pairs, with the self-
    # join spread over salt_groups tasks via (band_key, salt) composite keys.
    salt_threshold: int = 500
    salt_groups: int = 8
    minhash_seed: int = 42
    # Detector #3 (suffix-array substring pass): exact shared-span threshold
    # in normalized characters, and the winnowing k-gram width. The winnowing
    # window is derived (W = min_span - kgram + 1) so candidate recall for
    # spans >= substr_min_span is exactly 1.0 — for ANY kgram <= min_span,
    # which makes kgram a pure precision knob: measured at sf0.1, k=16 fed
    # 141k candidate pairs to the LCS verify where k=24 fed 1.8k (78x) for
    # the identical 245-pair output (16-char coincidental substrings are
    # common in natural text; 24-char ones are not). LCS verify time 6.7s ->
    # 2.0s.
    substr_min_span: int = 64
    substr_kgram: int = 24
    # Hard per-doc length cap (normalized chars) for the substring detector:
    # one un-capped multi-MB text would dominate its verify task (the LCS
    # kernel is O(n log n) per pair). Spans are detected within the first
    # substr_max_chars of each doc — documented recall bound, never a stall.
    # None disables.
    substr_max_chars: int | None = 50_000
    simhash_max_hamming: int = 3
    # MinHash-estimate pre-gate for the exact-Jaccard verify join: drop
    # candidate pairs whose signature-agreement estimate falls below
    # jaccard_threshold - verify_estimate_band BEFORE the wide shingle
    # arrays are shuffled/intersected. The estimate's std at 128 perms is
    # sqrt(J(1-J)/128) <= 0.045, so a 0.15 band is >3 sigma: the chance a
    # true >=threshold pair is gated away is ~1e-4 per pair. Survivors
    # still get EXACT jaccard — output values are unchanged. Worth it when
    # shingle sets are MUCH larger than the signature. Measured (local[8],
    # controlled-jaccard variant corpora, identical pair sets): at ~1,300
    # shingles/doc the gate is neutral-to-slower (the two extra signature
    # joins cost more than the skipped intersects — the arithmetic-union
    # exact path is already one intersect per pair); at ~4,850 shingles/doc
    # it wins ~10%. None = decide adaptively where corpus stats are
    # available (DedupPipeline turns it on when mean shingles/doc >=
    # verify_gate_min_avg_shingles; bare operator calls treat None as off).
    # The gate is LOSSY and therefore never silent: whenever it fires, the
    # pipeline records a 'verified.gated_pairs' StageMetric (gated-out pair
    # count + pairs_in) in the metrics table — the same accounting policy as
    # dropped LSH bands — and the auto decision itself is logged as
    # 'verified.estimate_gate'. Set False to force it off for strict-recall
    # runs.
    verify_estimate_gate: bool | None = None
    verify_estimate_band: float = 0.15
    verify_gate_min_avg_shingles: int = 4096

    def __post_init__(self) -> None:
        if self.bands * self.rows_per_band != self.num_perms:
            raise ValueError(
                f"bands ({self.bands}) * rows_per_band ({self.rows_per_band}) "
                f"must equal num_perms ({self.num_perms})"
            )

    def to_json(self) -> str:
        return json.dumps(asdict(self), sort_keys=True)

    @classmethod
    def from_json(cls, s: str) -> "DedupConfig":
        return cls(**json.loads(s))
