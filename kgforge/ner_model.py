"""Batched token-classification stand-in (SURVEY.md N5/N6 plumbing).

The reference runs an XLM-R token classifier per-row through a HF pipeline
(reference: ethiomart_fintech/vendor_analytics/scorecard_engine.py:54-57 —
the hot loop). kgforge runs inference as *batched, vectorized* work inside
``mapInPandas``: tokens in -> per-token logits -> argmax -> BIO tags, with
the model loaded once per executor (broadcast-once pattern), Arrow batches
across the boundary — the CIDR'22 vectorized-UDF shape (PAPERS.md).

The sandbox has no torch/transformers and no trained checkpoint, so the
network forward is a **deterministic stand-in scorer** (`DeterministicTagger`)
that emits logits from token shape (digits/phone/unit/trigger lexicon) —
hermetic, seed-free, identical on every executor. The Spark-side plumbing
(batch shapes, schema, partitioning, span decode) is real and is what the
engine exercises; swapping in a real checkpoint only replaces
``DeterministicTagger.logits``. Deliberate rule-violating initial tags
(orphan I-, unit-as-O, SKU-as-PRODUCT) are part of the stand-in so the
N1-N3 repair rules are exercised end-to-end.
"""

from __future__ import annotations

import re
import zlib

import numpy as np

from kgforge.schemas import TAG_TO_ID, TAGS

_PHONE_RE = re.compile(r"^(09\d{8}|9\d{8})$")
_NUM_RE = re.compile(r"^\d{1,3}(,\d{3})*(\.\d+)?$|^\d+(\.\d+)?$")
_SKU_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9/-]{2,}$")
TRIGGERS = ("ሽያጭ", "ለመግዛት", "ይግዙ", "ይሸጥ", "ለሽያጭ", "ገዝተውልኝ", "ግዢ", "እቃ")
UNITS = ("ብር", "birr", "br")


def _h(token: str) -> int:
    """Process-stable token hash (never builtin ``hash``; crc32 is C-speed
    and version-stable — this sits in the per-token hot loop)."""
    return zlib.crc32(token.encode("utf-8"))


def tag_tokens(tokens: list[str]) -> list[str]:
    """Deterministic initial BIO tags — the stand-in network's argmax.

    Intentionally imperfect (mirrors raw model output before repair):
    - price numbers tagged B-PRICE but the following unit token left O
      (repair rule 1 fixture),
    - ~1/13 of numbers emitted as orphan I-PRICE (rule 3 fixture),
    - the token after a trigger word tagged PRODUCT even when SKU-shaped
      (rule 2 veto fixture).
    """
    tags = ["O"] * len(tokens)
    for i, tok in enumerate(tokens):
        if _PHONE_RE.match(tok):
            tags[i] = "B-PHONE"
        elif _NUM_RE.match(tok):
            tags[i] = "I-PRICE" if _h(tok) % 13 == 0 else "B-PRICE"
    for i, tok in enumerate(tokens):
        if tok in TRIGGERS and i + 1 < len(tokens) and tags[i + 1] == "O":
            tags[i + 1] = "B-PRODUCT"
            if i + 2 < len(tokens) and tags[i + 2] == "O" and _h(tokens[i + 2]) % 3 == 0:
                tags[i + 2] = "I-PRODUCT"
    return tags


class DeterministicTagger:
    """Stand-in for the fine-tuned token classifier.

    ``logits`` has the real interface and the real *cost shape*: the whole
    Arrow batch's tokens are embedded into one [T, D] matrix and pushed
    through L dense tanh layers + a label projection in a single batched
    numpy forward (BLAS, GIL-free) — the same batched-inference compute
    pattern as an XLM-R forward, scaled down (D=128, L=4). The lexical
    prior (``tag_tokens``) contributes a +/-8 margin while the network term
    is bounded by +/-2, so the argmax — and therefore the P/R oracle gate —
    is exactly the deterministic tag assignment. A real checkpoint drops in
    by replacing this class (tokenize -> forward -> subword re-align as in
    reference src/modeling/train_ner.py:252-303).
    """

    labels = TAGS
    D = 128
    LAYERS = 4

    def __init__(self) -> None:
        rng = np.random.RandomState(42)  # legacy RandomState: stable across numpy versions
        self._W = [
            rng.uniform(-1, 1, (self.D, self.D)).astype(np.float32) / np.sqrt(self.D)
            for _ in range(self.LAYERS)
        ]
        self._P = (
            rng.uniform(-1, 1, (self.D, len(TAGS))).astype(np.float32) / self.D
        )
        # fixed embedding table: token -> row by crc32 (one vectorized gather
        # per batch instead of a per-token md5 + frombuffer — the hot loop
        # is memory-bandwidth sensitive at 32 workers/socket)
        self._VOCAB = 4096
        self._E = rng.uniform(-1, 1, (self._VOCAB, self.D)).astype(np.float32)

    def _flat_logits(
        self, batch_tokens: list[list[str]]
    ) -> tuple[np.ndarray, list[int]]:
        """One [total_tokens, n_tags] logit matrix for the whole Arrow
        batch + per-row lengths. r7 (guide §4.2): the per-row base-matrix
        loop (an np.full + a per-token scatter PER ROW) was the hottest
        line of the extraction worker — it is now one batch-wide np.full
        + one fancy-index scatter + one add; values are bit-identical
        (same float32 terms, same order)."""
        lengths = [len(t) for t in batch_tokens]
        total = sum(lengths)
        if total == 0:
            return np.zeros((0, len(TAGS)), dtype=np.float32), lengths
        # one batched forward for the whole Arrow batch
        idx = np.fromiter(
            (
                zlib.crc32(tok.encode("utf-8")) % self._VOCAB
                for tokens in batch_tokens
                for tok in tokens
            ),
            dtype=np.int64,
            count=total,
        )
        h = self._E[idx]
        for w in self._W:
            h = np.tanh(h @ w)
        net = 2.0 * np.tanh(h @ self._P)  # bounded |net| <= 2

        tag_ids = np.fromiter(
            (
                TAG_TO_ID[t]
                for tokens in batch_tokens
                for t in tag_tokens(tokens)
            ),
            dtype=np.int64,
            count=total,
        )
        base = np.full((total, len(TAGS)), -8.0, dtype=np.float32)
        base[np.arange(total), tag_ids] = 8.0
        return base + net, lengths

    def logits(self, batch_tokens: list[list[str]]) -> list[np.ndarray]:
        mat, lengths = self._flat_logits(batch_tokens)
        out = []
        i = 0
        for n in lengths:
            out.append(mat[i : i + n])
            i += n
        return out

    def predict_tags(self, batch_tokens: list[list[str]]) -> list[list[str]]:
        """argmax decode (N7 de-padding is a no-op for the stand-in).
        r7: one batch-wide argmax + tag-name gather instead of a per-row
        argmax — same ties-to-first semantics, identical tags."""
        mat, lengths = self._flat_logits(batch_tokens)
        names = np.asarray(TAGS, dtype=object)[mat.argmax(axis=1)].tolist()
        out = []
        i = 0
        for n in lengths:
            out.append(names[i : i + n])
            i += n
        return out


_MODEL: DeterministicTagger | None = None


def get_model() -> DeterministicTagger:
    """Load-once-per-executor accessor (broadcast-once pattern)."""
    global _MODEL
    if _MODEL is None:
        _MODEL = DeterministicTagger()
    return _MODEL


# Module-level vectorized wrapper (nested pandas_udf definitions cannot
# resolve the postponed 'pd.Series' annotations).
import pandas as pd  # noqa: E402
from pyspark.sql.functions import pandas_udf  # noqa: E402
from pyspark.sql.types import ArrayType, StringType  # noqa: E402


@pandas_udf(ArrayType(StringType()))
def model_tags_udf(tokens: pd.Series) -> pd.Series:
    """Batched raw model tags for an array<string> tokens column."""
    model = get_model()
    return pd.Series(model.predict_tags([list(t) for t in tokens]))
