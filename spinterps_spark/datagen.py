"""Deterministic synthetic transcripts generator (the engine's input table).

Schema per BASELINE.json input_hint:
    conv_id string, turn_idx int32, role string, text string,
    tool string (null for non-tool turns), ts timestamp

Every value is a pure function of (seed, conv_index, turn_idx) via a
splitmix64 mixer, so generation is reproducible AND streamable: the Spark
path generates each partition independently from conversation ids with no
driver-side materialization (SURVEY.md §7.3 hard part 5).  The pandas path
(used by the NumPy oracle and the DuckDB parity fixtures) runs the *same*
per-conversation core, so both paths produce byte-identical rows.

Skew design (FIXTURES.md F1): conversation sizes are Pareto/Zipf-skewed and
conversation 0 is a deliberate mega-conversation holding ~5% of all turns —
the key-salting test case mandated by BASELINE.json north_rule.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z in unix seconds

_ROLES = np.array(["user", "assistant", "tool"])
_TOOLS = np.array(["bash", "search", "edit", "read"])

TRANSCRIPT_SCHEMA = (
    "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
)


def _splitmix64(x: np.ndarray) -> np.ndarray:
    """Vectorized splitmix64 finalizer (public-domain constant set)."""
    with np.errstate(over="ignore"):
        z = (x + np.uint64(0x9E3779B97F4A7C15)).astype(np.uint64)
        z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
        z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
        return z ^ (z >> np.uint64(31))


def _mix(seed: int, *parts: np.ndarray | int) -> np.ndarray:
    h = np.uint64(seed)
    for p in parts:
        h = _splitmix64(np.asarray(p, dtype=np.uint64) ^ h)
    return h


def plan_sizes(seed: int, n_turns_target: int) -> np.ndarray:
    """Deterministic per-conversation turn counts.

    Pareto(alpha=1.2) tail clipped to [3, 5000], conv 0 replaced by a
    mega-conversation with ~5% of the target turn volume.
    """
    mean_sz = 25.0
    n_convs = max(2, int(n_turns_target / mean_sz))
    i = np.arange(n_convs, dtype=np.uint64)
    u = (_mix(seed, i, 1) >> np.uint64(11)).astype(np.float64) / float(1 << 53)
    u = np.clip(u, 1e-12, 1 - 1e-12)
    sizes = np.clip((5.0 * (1.0 - u) ** (-1.0 / 1.2)).astype(np.int64), 3, 5000)
    # conv 0 is the mega-conversation: ~5% of the target volume and strictly
    # the largest, regardless of what the Pareto tail produced.
    mega = max(int(0.05 * n_turns_target), 10)
    if len(sizes) > 1:
        mega = max(mega, int(sizes[1:].max()) * 2)
    sizes[0] = mega
    return sizes


def conv_label(i: int) -> str:
    return f"c{i:08d}"


def conv_turns(seed: int, conv_idx: int, n_turns: int) -> pd.DataFrame:
    """All turns of one conversation as a pandas frame (pure function)."""
    k = np.arange(n_turns, dtype=np.uint64)
    ci = np.uint64(conv_idx)

    h_role = _mix(seed, ci, k, 2)
    role = _ROLES[(h_role % np.uint64(3)).astype(np.int64)]

    h_tool = _mix(seed, ci, k, 3)
    tool = np.where(role == "tool", _TOOLS[(h_tool % np.uint64(4)).astype(np.int64)], None)

    # token text: one deterministic token repeated n_tok times (log-normal-ish
    # length via multiplicative hash mixing) — token-length aggregate + exact
    # per-turn text-equality checks both key off this.
    h_tok = _mix(seed, ci, k, 4)
    tok_id = (h_tok % np.uint64(4096)).astype(np.int64)
    n_tok = (
        1
        + ((h_tok >> np.uint64(16)) % np.uint64(12)).astype(np.int64)
        * (1 + ((h_tok >> np.uint64(40)) % np.uint64(3)).astype(np.int64))
    )
    text = [("t%d " % t) * int(n) for t, n in zip(tok_id, n_tok)]
    text = [s[:-1] for s in text]

    # timestamps: conv start + cumulative inter-turn gaps 5s..20m, with seeded
    # silence holes of 1h..3d (~1/97 turns) so 1m/1h buckets have real gaps.
    start = EPOCH_2024 + int(_mix(seed, ci, 5) % np.uint64(86400 * 30))
    h_gap = _mix(seed, ci, k, 6)
    gaps = (np.uint64(5) + (h_gap % np.uint64(1195))).astype(np.int64)
    h_hole = _mix(seed, ci, k, 7)
    hole = (h_hole % np.uint64(97)) == 0
    hole_len = (np.uint64(3600) + (_mix(seed, ci, k, 8) % np.uint64(3 * 86400 - 3600))).astype(
        np.int64
    )
    gaps = np.where(hole, gaps + hole_len, gaps)
    gaps[0] = 0
    ts = start + np.cumsum(gaps)

    return pd.DataFrame(
        {
            "conv_id": conv_label(conv_idx),
            "turn_idx": k.astype(np.int32),
            "role": role,
            "text": text,
            "tool": tool,
            "ts": pd.to_datetime(ts, unit="s"),
        }
    )


def transcripts_pandas(seed: int = 42, n_turns_target: int = 10_000) -> pd.DataFrame:
    """Single-process generator (oracle / fixture path)."""
    sizes = plan_sizes(seed, n_turns_target)
    frames = [conv_turns(seed, i, int(n)) for i, n in enumerate(sizes)]
    return pd.concat(frames, ignore_index=True)


def transcripts_spark(spark, seed: int = 42, n_turns_target: int = 10_000, parts: int | None = None):
    """Distributed generator: spark.range over conversation ids, expanded
    per-partition via mapInPandas — never materialized on the driver.

    Partitioning note for 100 TB scale: conversations are independent, so the
    generator parallelizes embarrassingly; the mega-conversation is still one
    generator task, which is fine (generation is O(n) streaming), and the
    *consumers* handle its skew via map-side partial aggregation
    (operators/rollup.py).
    """
    sizes = plan_sizes(seed, n_turns_target)
    n_convs = len(sizes)
    if parts is None:
        parts = min(max(spark.sparkContext.defaultParallelism * 2, 8), max(n_convs, 1))

    sizes_b = spark.sparkContext.broadcast(sizes)

    def gen(batches):
        # accumulate ~64k rows per yielded frame: one pandas frame per
        # conversation made every yield its own Arrow batch — tens of
        # thousands of tiny record batches per task paid serializer
        # overhead per conv (guide 4.2 batch sizing). Row content and
        # order are byte-identical (same conv sequence, same rows).
        for pdf in batches:
            szs = sizes_b.value
            buf, nbuf = [], 0
            for i in pdf["id"].to_numpy():
                f = conv_turns(seed, int(i), int(szs[int(i)]))
                buf.append(f)
                nbuf += len(f)
                if nbuf >= 65536:
                    yield pd.concat(buf, ignore_index=True)
                    buf, nbuf = [], 0
            if buf:
                yield pd.concat(buf, ignore_index=True)

    # Round-robin conv ids across partitions so the large (low-index) convs
    # don't all land in one task.
    ids = spark.range(n_convs).repartition(parts)
    return ids.mapInPandas(gen, schema=TRANSCRIPT_SCHEMA)


def conv_coords_pandas(seed: int, n_convs: int, n_clusters: int = 8) -> pd.DataFrame:
    """Conversation 'coordinates' dim (reference: station coords,
    variograms/vgsinput.py:102-105): deterministic 2-D embedding with
    cluster structure so distance-weighted interpolation has signal.
    """
    i = np.arange(n_convs, dtype=np.uint64)
    cluster = (_mix(seed, i, 20) % np.uint64(n_clusters)).astype(np.int32)
    cx = (_mix(seed, cluster.astype(np.uint64), 21) % np.uint64(10_000)).astype(np.float64)
    cy = (_mix(seed, cluster.astype(np.uint64), 22) % np.uint64(10_000)).astype(np.float64)
    dx = ((_mix(seed, i, 23) % np.uint64(1000)).astype(np.float64)) - 500.0
    dy = ((_mix(seed, i, 24) % np.uint64(1000)).astype(np.float64)) - 500.0
    return pd.DataFrame(
        {
            "conv_id": [conv_label(int(j)) for j in range(n_convs)],
            "x": cx + dx,
            "y": cy + dy,
            "cluster_id": cluster,
        }
    )


def conv_coords_spark(spark, seed: int, n_convs: int, n_clusters: int = 8):
    return spark.createDataFrame(conv_coords_pandas(seed, n_convs, n_clusters))


# ---------------------------------------------------------------------------
# documents generator (dedup/similarity bench input at arbitrary scale)
# ---------------------------------------------------------------------------

DOCUMENT_SCHEMA = "doc_id long, text string, lang string, source string, n_chars long"

_DOC_VOCAB = np.array(
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data plan "
    "join shuffle stage task executor".split()
)
_DOC_LANGS = np.array(["en", "fr", "de", "es", "zh"])
_DOC_SOURCES = np.array([f"src{i}" for i in range(20)])


def _doc_tokens(seed: int, doc_id: int) -> np.ndarray:
    """Token array for one document: 10-100 tokens drawn from the 31-word
    vocab, all values pure functions of (seed, doc_id) via splitmix64 —
    mirrors the driver testdata documents distribution (31-token vocab,
    10-100 tokens/doc, avg ~54) so sf-scaled bench legs exercise the same
    shingle/fingerprint density as the sf0.1 gate."""
    n = 10 + int(_mix(seed, 7001, np.uint64(doc_id)) % np.uint64(91))
    picks = _mix(seed, 7002, doc_id * 131 + np.arange(n)) % len(_DOC_VOCAB)
    return _DOC_VOCAB[picks]


def documents_pandas(seed: int, doc_ids: np.ndarray) -> pd.DataFrame:
    """Vectorized-per-doc generator for a batch of doc ids.

    Near-dup structure (so LSH/winnowing have real work at every scale):
    docs with id % 37 == 1 and id >= 37 are MUTATIONS of the raw token
    stream of doc (id - 37): 2 positions substituted — inside the LSH
    similarity band. Docs with id % 211 == 3 and id >= 211 are EXACT
    copies of a low-id raw doc (the exact-dedup tail, ~0.5%); the base is
    nudged off the mutation lattice so copy == published base text."""
    rows = []
    for did in doc_ids.astype(np.int64):
        d = int(did)
        if d >= 211 and d % 211 == 3:
            b = d % 199  # low-id raw base; published base text == its raw tokens
            if b % 37 == 1 or b % 211 == 3:
                b += 1
            toks = _doc_tokens(seed, b)
        elif d >= 37 and d % 37 == 1:
            toks = _doc_tokens(seed, d - 37).copy()
            n = len(toks)
            pos = _mix(seed, 7003, d + np.arange(2)) % n
            sub = _mix(seed, 7004, d + np.arange(2)) % len(_DOC_VOCAB)
            toks[pos.astype(np.int64)] = _DOC_VOCAB[sub]
        else:
            toks = _doc_tokens(seed, d)
        text = " ".join(toks.tolist())
        rows.append(
            (
                d,
                text,
                str(_DOC_LANGS[int(_mix(seed, 7005, np.uint64(d)) % np.uint64(len(_DOC_LANGS)))]),
                str(_DOC_SOURCES[int(_mix(seed, 7006, np.uint64(d)) % np.uint64(len(_DOC_SOURCES)))]),
                len(text),
            )
        )
    return pd.DataFrame(
        rows, columns=["doc_id", "text", "lang", "source", "n_chars"]
    )


def documents_spark(spark, seed: int = 42, n_docs: int = 5_000, parts: int | None = None):
    """Distributed documents generator: spark.range over doc ids expanded
    per-partition (same never-on-the-driver contract as transcripts_spark).
    Docs are independent, so generation is embarrassingly parallel at any
    scale; near-dup partners land in different partitions and are found by
    the dedup JOINS, not by generator co-location."""
    if parts is None:
        parts = max(spark.sparkContext.defaultParallelism * 2, 8)

    def gen(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            if len(ids):
                yield documents_pandas(seed, ids)

    ids = spark.range(n_docs).repartition(parts)
    return ids.mapInPandas(gen, schema=DOCUMENT_SCHEMA)
