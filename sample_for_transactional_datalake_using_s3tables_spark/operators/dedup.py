"""Deduplication operators for LLM training-data pipelines.

The reference's only dedup-adjacent capability is keyed upsert
(Firehose ``unique_keys``, reference stack/firehose.py:99,159); these are
the north-star extensions: exact, MinHash+LSH, SimHash, n-gram Jaccard,
and embedding-cosine near-dup over ``documents``/``embeddings``.

Scale design:
- exact dedup is a hash groupBy on the text (or its md5) -- one shuffle.
- MinHash+LSH: signatures are per-row Column expressions (no shuffle),
  candidates come from a self-equi-join on (band_id, band_key) -- i.e.
  the classic band-bucket join; verification joins back only candidate
  rows. At 100 TB the band join shuffles only (doc_id, 4 x 16-byte keys),
  never the text.
- SimHash is per-row expressions; near-dup clusters = equi-join on the
  16-bit signature (or banded nibbles for hamming<k).
- n-gram Jaccard is blocked (here by (lang, source)) to bound pairs.
- embedding near-dup joins within label blocks with exact quantized
  cosine (functions/vectors.py).

Everything is pure Column expressions -- no Python UDFs in any hot path.
"""

from __future__ import annotations

import hashlib

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession

from ..functions.textfns import (
    TOKEN_HASHES_SQL,
    TOKENS_SQL,
    hashed_shingles,
    hashed_shingles_sql,
    md5_int_sql,
    token_hashes,
    tokens,
)
from ..functions.vectors import (
    QUANTIZE_SQL,
    cosine_from_ints,
    cosine_from_ints_sql,
    dot_int,
    dot_int_sql,
    quantize,
)
from ..sources.testdata import load_table, spread
from .similarity import LSH_TABLES, bucket_expr, bucket_sql

# MinHash parameters: 12 hashes in 4 bands of 3 rows.
MINHASH_K = 12
MINHASH_BANDS = 4
MINHASH_R = MINHASH_K // MINHASH_BANDS

# The MINHASH_K hash functions are affine remixes of ONE 31-bit shingle
# hash:  h_i(s) = (a_i * sh(s) + b_i) mod P.  The shingle hash itself is
# a rolling polynomial over per-TOKEN md5 hashes (functions/textfns
# SHINGLE_A/SHINGLE_P) -- one md5 per token instead of one string build +
# md5 per shingle, which was the dominant cost at scale.  Exact int64
# arithmetic throughout (a_i < 2^28, sh < 2^31 => product < 2^59, no
# overflow), reproducible verbatim in the DuckDB oracle.
MINHASH_P = 2147483647
MINHASH_COEF = [
    (
        int(hashlib.md5(f"a{i}".encode()).hexdigest()[:7], 16) | 1,
        int(hashlib.md5(f"b{i}".encode()).hexdigest()[:7], 16),
    )
    for i in range(MINHASH_K)
]

SIMHASH_BITS = 16

_TOK = TOKENS_SQL.format(col="text")
# Oracle CTE pair shared by every shingle-based dedup oracle: token-hash
# array, then distinct rolling-poly shingle hashes (textfns twins).
_HASHED_CTE = (
    f"SELECT doc_id{{extra}}, {TOKEN_HASHES_SQL.format(tok=_TOK)} AS ht"
    " FROM documents"
)
_BASE_CTE = (
    f"SELECT doc_id{{extra}}, list_distinct({hashed_shingles_sql('ht')}) AS sh"
    " FROM hashed"
)


# --------------------------------------------------------------------------
# Exact dedup.
# --------------------------------------------------------------------------

def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup (hash groupBy on content): keep min doc_id per text.

    At scale, group on md5(text) instead of the text itself so the
    shuffle moves 16 bytes per row, not documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("content_hash"))
        .agg(
            F.min("doc_id").alias("kept_doc"),
            F.count("*").alias("n_copies"),
        )
    )


DEDUP_EXACT_SQL = """
SELECT md5(text) AS content_hash, MIN(doc_id) AS kept_doc, COUNT(*) AS n_copies
FROM documents GROUP BY 1
"""


# --------------------------------------------------------------------------
# MinHash + LSH.
# --------------------------------------------------------------------------

def _doc_shingles(spark: SparkSession, sf_dir: str, *extra: str) -> DataFrame:
    """``(doc_id, *extra, sh: array<bigint>)`` -- the distinct 31-bit
    shingle hashes of each document (rolling polynomial over per-token
    md5 hashes, textfns.hashed_shingles), rows with < 3 tokens dropped.

    Materialized TWICE via localCheckpoint, deliberately:

    - the token-hash array is pinned before shingling because Spark
      evaluates higher-order lambdas interpreted and projection collapse
      would otherwise re-run the per-token md5 transform once per
      downstream array reference (measured 25x slower);
    - the finished frame is pinned because THREE downstream consumers
      re-read it (the signature pass, both sides of the band self-join
      via exchange reuse, and the verify join's two probe sides).

    At cluster scale this is the standard persist(MEMORY_AND_DISK) of a
    multi-pass dedup working set ~10x smaller than the text it encodes;
    at 100 TB of text the checkpointed hashes are ~1-2 TB spread across
    executor local disks, and every later pass is int-array reads
    instead of re-tokenizing the corpus."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", *extra, tokens(F.col("text")).alias("tok"))
    # string-built higher-order expressions (r13): identical plan, but
    # JVM-parsed in one shot instead of ~100 ms of py4j round trips per
    # lambda (see textfns.token_hashes)
    hdf = toked.select(
        "doc_id", *extra, token_hashes("tok").alias("ht")
    ).localCheckpoint()
    sh = F.array_distinct(hashed_shingles("ht"))
    out = hdf.select("doc_id", *extra, sh.alias("sh")).filter(F.size("sh") > 0)
    return out.localCheckpoint()


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures -> banded LSH candidate pairs -> exact Jaccard.

    Signature: each document's distinct 31-bit shingle hashes (one md5
    per TOKEN + a rolling polynomial -- see _doc_shingles), then
    ``mh_i = min over shingles of (a_i * sh + b_i) mod P`` (see
    MINHASH_COEF). Band key = md5 of the band's signature triple;
    candidates share any band key; the final column is the exact Jaccard
    of the pair's hashed-shingle sets (int division -> portable double;
    identical to string-shingle Jaccard up to ~2^-31 hash collisions,
    and bit-identical to the DuckDB oracle either way)."""
    base = _doc_shingles(spark, sf_dir)
    sig = base.selectExpr(
        "doc_id",
        *[
            f"array_min(transform(sh, h -> (h * {a} + {b}) % {MINHASH_P}))"
            f" as mh{i}"
            for i, (a, b) in enumerate(MINHASH_COEF)
        ],
    )
    bands = sig.select(
        "doc_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band_id"),
                        F.md5(
                            F.concat_ws(
                                ",",
                                *[
                                    F.col(f"mh{b * MINHASH_R + j}")
                                    for j in range(MINHASH_R)
                                ],
                            )
                        ).alias("band_key"),
                    )
                    for b in range(MINHASH_BANDS)
                ]
            )
        ).alias("bk"),
    ).select("doc_id", "bk.band_id", "bk.band_key")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    return (
        cand.join(base.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(base.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            (
                inter
                / (F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter)
            ).alias("jaccard"),
        )
    )


def _minhash_sql() -> str:
    mh_cols = ",\n         ".join(
        f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {MINHASH_P})) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEF)
    )
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, {b} AS band_id, "
        f"md5(mh{b * MINHASH_R} || ',' || mh{b * MINHASH_R + 1} || ',' || mh{b * MINHASH_R + 2}) AS band_key FROM sig"
        for b in range(MINHASH_BANDS)
    )
    return f"""
WITH hashed AS (
  {_HASHED_CTE.format(extra="")}
),
base AS (
  SELECT * FROM ({_BASE_CTE.format(extra="")}) WHERE len(sh) > 0
),
sig AS (
  SELECT doc_id, sh,
         {mh_cols}
  FROM base
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b,
       len(list_intersect(sa.sh, sb.sh))
         / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) AS jaccard
FROM cand
JOIN base sa ON doc_a = sa.doc_id
JOIN base sb ON doc_b = sb.doc_id
"""


# --------------------------------------------------------------------------
# SimHash.
# --------------------------------------------------------------------------

def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document (token-multiset, md5-derived bits):
    bit b is set iff the majority of tokens have bit b set in their hash.
    Equal signatures cluster near-identical bags of words."""
    docs = spread(load_table(spark, sf_dir, "documents"), "doc_id")
    toked = docs.select("doc_id", tokens(F.col("text")).alias("tok"))
    # expr-string build (r13): same plan as the 17 py4j-built lambdas
    # (one per-token md5 transform + one filter per bit), parsed in the
    # JVM instead (see textfns.token_hashes)
    d = toked.selectExpr(
        "doc_id",
        "transform(tok, t -> CAST(conv(substring(md5(t), 1, 15), 16, 10)"
        " AS BIGINT)) as hs",
        "size(tok) as n",
    )
    bits = " + ".join(
        f"(CASE WHEN 2 * size(filter(hs, h -> (h & {1 << b}) != 0)) > n"
        f" THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_BITS)
    )
    return d.selectExpr("doc_id", f"CAST({bits} AS BIGINT) as simhash")


def _simhash_sql() -> str:
    bits = " + ".join(
        f"CASE WHEN 2 * len(list_filter(hs, h -> (h & {1 << b}) != 0)) > n "
        f"THEN {1 << b} ELSE 0 END"
        for b in range(SIMHASH_BITS)
    )
    return f"""
WITH d AS (
  SELECT doc_id,
         list_transform({_TOK}, t -> {md5_int_sql('t')}) AS hs,
         len({_TOK}) AS n
  FROM documents
)
SELECT doc_id, CAST({bits} AS BIGINT) AS simhash FROM d
"""


# --------------------------------------------------------------------------
# Blocked n-gram Jaccard (MinHash-prefiltered).
# --------------------------------------------------------------------------

def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-gram Jaccard near-dup pairs within (lang, source) blocks,
    keeping pairs >= 0.2 among MinHash candidates.

    Scale shape: a naive within-block self-join is quadratic in block
    size (a 100 TB corpus has only ~lang x source distinct blocks).
    Candidate generation therefore reuses the MinHash machinery with
    single-row bands (r=1: any shared minhash of the K=12 -> candidate,
    ~93% recall at J=0.2), so the self-join's equi-keys are
    (lang, source, band_id, band_key) -- bounded bucket sizes instead of
    whole blocks -- and the exact Jaccard verify touches candidate pairs
    only. The oracle mirrors the same candidate generation verbatim, so
    the pair set is deterministic and engine-independent."""
    base = _doc_shingles(spark, sf_dir, "lang", "source")
    band_structs = ", ".join(
        f"struct({i} as band_id,"
        f" array_min(transform(sh, h -> (h * {a} + {b}) % {MINHASH_P}))"
        f" as band_key)"
        for i, (a, b) in enumerate(MINHASH_COEF)
    )
    bands = base.selectExpr(
        "doc_id", "lang", "source", f"explode(array({band_structs})) as bk"
    ).select("doc_id", "lang", "source", "bk.band_id", "bk.band_key")
    cand = (
        bands.alias("a")
        .join(
            bands.alias("b"),
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.source") == F.col("b.source"))
            & (F.col("a.band_id") == F.col("b.band_id"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .distinct()
    )
    inter = F.size(F.array_intersect(F.col("sa.sh"), F.col("sb.sh")))
    jac = inter / (F.size(F.col("sa.sh")) + F.size(F.col("sb.sh")) - inter)
    return (
        cand.join(base.alias("sa"), F.col("doc_a") == F.col("sa.doc_id"))
        .join(base.alias("sb"), F.col("doc_b") == F.col("sb.doc_id"))
        .select(
            "doc_a",
            "doc_b",
            F.col("sa.lang").alias("lang"),
            F.col("sa.source").alias("source"),
            jac.alias("jaccard"),
        )
        .filter(F.col("jaccard") >= 0.2)
    )


def _ngram_jaccard_sql() -> str:
    band_rows = "\n  UNION ALL\n".join(
        f"  SELECT doc_id, lang, source, {i} AS band_id, "
        f"list_min(list_transform(sh, h -> (h * {a} + {b}) % {MINHASH_P})) AS band_key "
        "FROM base"
        for i, (a, b) in enumerate(MINHASH_COEF)
    )
    jac = (
        "len(list_intersect(sa.sh, sb.sh)) "
        "/ (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)))"
    )
    return f"""
WITH hashed AS (
  {_HASHED_CTE.format(extra=", lang, source")}
),
base AS (
  SELECT * FROM ({_BASE_CTE.format(extra=", lang, source")}) WHERE len(sh) > 0
),
bands AS (
{band_rows}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bands a JOIN bands b
    ON a.lang = b.lang AND a.source = b.source
   AND a.band_id = b.band_id AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, sa.lang AS lang, sa.source AS source, {jac} AS jaccard
FROM cand
JOIN base sa ON doc_a = sa.doc_id
JOIN base sb ON doc_b = sb.doc_id
WHERE {jac} >= 0.2
"""


# --------------------------------------------------------------------------
# Embedding-cosine near-dup.
# --------------------------------------------------------------------------

def dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vectors: same-label pairs with quantized cosine
    >= 0.3 among sign-LSH candidates (exact int arithmetic, portable
    doubles).

    Scale shape: a plain within-label self-join is quadratic in label
    population. Candidate generation reuses the multi-table sign-LSH
    buckets from similarity search, so the self-join's equi-keys are
    (label, table_id, bucket) and the exact cosine verify touches
    candidate pairs only. The oracle mirrors the identical bucketing,
    keeping the pair set engine-independent."""
    emb = spread(load_table(spark, sf_dir, "embeddings"), "vec_id")
    q = emb.select("vec_id", "label", quantize("embedding").alias("qv"))
    q = q.withColumn("n2", dot_int("qv", "qv"))
    buckets = q.select(
        "vec_id",
        "label",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("table_id"), bucket_expr(t).alias("bucket")
                    )
                    for t in range(LSH_TABLES)
                ]
            )
        ).alias("tb"),
    ).select("vec_id", "label", "tb.table_id", "tb.bucket")
    cand = (
        buckets.alias("a")
        .join(
            buckets.alias("b"),
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.table_id") == F.col("b.table_id"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b"))
        .distinct()
    )
    cos = cosine_from_ints(
        dot_int("qa.qv", "qb.qv"), F.col("qa.n2"), F.col("qb.n2")
    )
    return (
        cand.join(q.alias("qa"), F.col("vec_a") == F.col("qa.vec_id"))
        .join(q.alias("qb"), F.col("vec_b") == F.col("qb.vec_id"))
        .select(
            "vec_a",
            "vec_b",
            F.col("qa.label").alias("label"),
            cos.alias("cosine"),
        )
        .filter(F.col("cosine") >= 0.3)
    )


def _dedup_embedding_sql() -> str:
    bucket_rows = "\n  UNION ALL\n".join(
        f"  SELECT vec_id, label, {t} AS table_id, {bucket_sql(t)} AS bucket FROM q"
        for t in range(LSH_TABLES)
    )
    cos = cosine_from_ints_sql(dot_int_sql("qa.qv", "qb.qv"), "qa.n2", "qb.n2")
    return f"""
WITH q AS (
  SELECT vec_id, label,
         {QUANTIZE_SQL.format(v='embedding')} AS qv,
         {dot_int_sql(QUANTIZE_SQL.format(v='embedding'), QUANTIZE_SQL.format(v='embedding'))} AS n2
  FROM embeddings
),
buckets AS (
{bucket_rows}
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM buckets a JOIN buckets b
    ON a.label = b.label AND a.table_id = b.table_id
   AND a.bucket = b.bucket AND a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, qa.label AS label, {cos} AS cosine
FROM cand
JOIN q qa ON vec_a = qa.vec_id
JOIN q qb ON vec_b = qb.vec_id
WHERE {cos} >= 0.3
"""


# --------------------------------------------------------------------------
# Connected components over the duplicate graph (iterative).
# --------------------------------------------------------------------------

_CC_JACCARD = 0.2
_CC_MAX_ITERS = 50


def connected_components(edges: DataFrame, max_iters: int = _CC_MAX_ITERS) -> DataFrame:
    """Connected components by alternating large-star / small-star
    rounds (Kiveris et al., "Connected Components in MapReduce and
    Beyond", SoCC'14 -- a published algorithm, reimplemented here on
    DataFrames). Input: ``edges(src, dst)`` in either/both directions;
    output: ``(node, comp)`` for every node appearing in an edge, where
    ``comp`` is the minimum node id in its component.

    Why stars instead of min-label propagation: propagation needs
    O(diameter) rounds, so an adversarial chain component of n nodes
    costs n rounds of shuffles; the star alternation contracts path
    lengths geometrically and converges in O(log n) rounds for ANY
    component shape (the property tests pin a 300-node chain at <= 12
    rounds). Each round is two keyed aggregations + joins -- shuffle
    volume stays O(|edges|), and every round localCheckpoints the
    (candidate-bounded, not corpus-bounded) edge frame to cut lineage.

    - large-star(u): attach every neighbor v > u to m = min(N(u) + {u})
    - small-star(u): attach every neighbor v <= u (and u) to that min
    Fixpoint: every component is a star centered on its min node, so the
    edge set IS the labeling.
    """
    u, v, m = F.col("u"), F.col("v"), F.col("m")

    def _checksum(df: DataFrame) -> tuple:
        # Order-insensitive set fingerprint in ONE action: edge count +
        # xor of 64-bit row hashes + sum of 32-bit row hashes. Equal
        # fingerprints on two DISTINCT edge sets imply set equality up
        # to a ~2^-96 collision -- replacing the former two-action
        # convergence check (count + exceptAll().isEmpty()), so each
        # round runs one job instead of two.
        return tuple(
            df.agg(
                F.count(F.lit(1)),
                F.expr("bit_xor(xxhash64(u, v))"),
                F.sum(F.hash("u", "v").cast("bigint")),
            ).first()
        )

    e = (
        edges.select(
            F.greatest("src", "dst").alias("u"), F.least("src", "dst").alias("v")
        )
        .where(u != v)
        .distinct()
        .localCheckpoint()
    )
    prev = _checksum(e)
    for _ in range(max_iters):
        # large-star over the symmetric neighborhood
        sym = e.union(e.select(v.alias("u"), u.alias("v")))
        lmins = sym.groupBy("u").agg(F.min(F.least(u, v)).alias("m"))
        e_ls = (
            sym.where(v > u)
            .join(lmins, "u")
            .select(v.alias("u"), m.alias("v"))
            .where(u != v)
            .distinct()
        )
        # small-star over canonical (u > v) edges: all neighbors are smaller
        smins = e_ls.groupBy("u").agg(F.min(v).alias("m"))
        new_e = (
            e_ls.join(smins, "u")
            .select(v.alias("a"), m.alias("b"))
            .union(smins.select(u.alias("a"), m.alias("b")))
            .where(F.col("a") != F.col("b"))
            .distinct()
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .localCheckpoint()
        )
        chk = _checksum(new_e)
        e = new_e
        if chk == prev:
            break
        prev = chk
    else:
        raise RuntimeError("connected components did not converge")
    roots = e.select(v.alias("node")).distinct().withColumn("comp", F.col("node"))
    return e.select(u.alias("node"), v.alias("comp")).union(roots)


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive closure of the MinHash duplicate graph: every document
    mapped to its component id (the minimum doc_id it is connected to),
    so "keep one per cluster" survives chains a -> b -> c where (a, c)
    were never a direct candidate pair.

    This is the engine's iterative-algorithm surface: the reusable
    :func:`connected_components` large-star/small-star loop, O(log n)
    rounds at any component shape. Only nodes that appear in a
    duplicate pair iterate (the hot set is |candidates|, not |corpus|);
    singleton documents bypass the loop entirely.

    The oracle replays the closure with a recursive CTE over the same
    verified pair set (exact shingle Jaccard >= 0.2), so the component
    assignment is engine-independent.
    """
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .filter(F.col("jaccard") >= _CC_JACCARD)
        .select("doc_a", "doc_b")
    )
    labels = connected_components(
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
    ).select(F.col("node").alias("doc_id"), F.col("comp"))
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    singletons = docs.join(labels, "doc_id", "left_anti").withColumn(
        "comp", F.col("doc_id")
    )
    return (
        labels.union(singletons)
        .select("doc_id", F.col("comp").alias("component_id"))
    )


def _connected_components_sql() -> str:
    return f"""
WITH RECURSIVE
pairs AS (
  SELECT doc_a, doc_b FROM ({_minhash_sql()}) WHERE jaccard >= {_CC_JACCARD}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT e.src, r.lbl FROM edges e JOIN reach r ON e.dst = r.node
)
SELECT node AS doc_id, MIN(lbl) AS component_id
FROM reach GROUP BY node
"""


def dedup_apply(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup APPLIED: materialize the surviving corpus (keep the
    min-doc_id representative of each duplicate cluster, i.e. rows
    whose component id equals their own id) and report the corpus-level
    effect -- docs in, clusters out, rows removed, and the surviving
    text volume. This is the step that actually shrinks a training
    corpus; at 100 TB it is one broadcast-friendly semi-join of the
    corpus against the (small) non-trivial cluster labels, after the
    O(log n) component loop ran over only the candidate-pair hot set."""
    labels = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", F.length("text").alias("_chars")
    )
    joined = docs.join(labels, "doc_id")
    # ONE pass: conditional aggregates fold the survivor stats into the
    # same scan instead of cross-joining a second aggregation over a
    # duplicated join subtree
    survivor = F.col("doc_id") == F.col("component_id")
    return joined.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.countDistinct("component_id").alias("n_clusters"),
        (
            F.count(F.lit(1)) - F.count(F.when(survivor, F.lit(1)))
        ).alias("n_removed"),
        F.sum(F.when(survivor, F.col("_chars"))).cast("bigint").alias(
            "surviving_chars"
        ),
    )


def _dedup_apply_sql() -> str:
    return f"""
WITH comp AS ({_connected_components_sql()}),
joined AS (
  SELECT d.doc_id, LENGTH(d.text) AS chars, c.component_id
  FROM documents d JOIN comp c USING (doc_id)
)
SELECT COUNT(*) AS n_docs,
       COUNT(DISTINCT component_id) AS n_clusters,
       COUNT(*) - COUNT(CASE WHEN doc_id = component_id THEN 1 END) AS n_removed,
       CAST(SUM(CASE WHEN doc_id = component_id THEN chars END) AS BIGINT) AS surviving_chars
FROM joined
"""


def dedup_keep_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware cluster representative selection: keep each
    duplicate cluster's BEST member, not its min-id one -- production
    corpora keep the highest-quality copy of a near-dup cluster
    (RefinedWeb / FineWeb pipelines), since crawl copies differ in
    truncation and boilerplate. "Best" = most tokens, then most
    distinct tokens, then min doc_id -- a deterministic total order.

    Scale shape: ONE hash aggregate with map-side combine --
    ``min(array(-n_tokens, -n_distinct, doc_id))`` folds the whole
    selection into a combiner-friendly lexicographic min (a row_number
    window would funnel a billion-copy boilerplate cluster through one
    reducer; the aggregate collapses it per task, same argument as
    text_segment_dedup's keep-first). The array never reaches the
    output -- fields are extracted to plain columns."""
    labels = dedup_connected_components(spark, sf_dir)
    docs = load_table(spark, sf_dir, "documents")
    toked = spread(docs, "doc_id").select(
        "doc_id", tokens(F.col("text")).alias("tok")
    )
    stats = toked.select(
        "doc_id",
        F.size("tok").cast("bigint").alias("n_tokens"),
        F.size(F.array_distinct("tok")).cast("bigint").alias("n_distinct"),
    )
    j = labels.join(stats, "doc_id")
    key = F.array(-F.col("n_tokens"), -F.col("n_distinct"), F.col("doc_id"))
    return (
        j.groupBy("component_id")
        .agg(
            F.count(F.lit(1)).alias("n_members"),
            F.min(key).alias("_b"),
        )
        .select(
            "component_id",
            "n_members",
            F.element_at("_b", 3).alias("kept_doc"),
            (-F.element_at("_b", 1)).alias("kept_tokens"),
        )
    )


def _keep_best_sql() -> str:
    return f"""
WITH comp AS ({_connected_components_sql()}),
stats AS (
  SELECT doc_id,
         CAST(len({_TOK}) AS BIGINT) AS n_tokens,
         CAST(len(list_distinct({_TOK})) AS BIGINT) AS n_distinct
  FROM documents
),
j AS (
  SELECT c.component_id, s.doc_id, s.n_tokens, s.n_distinct
  FROM comp c JOIN stats s USING (doc_id)
),
agg AS (
  SELECT component_id, COUNT(*) AS n_members,
         min([-n_tokens, -n_distinct, doc_id]) AS b
  FROM j GROUP BY component_id
)
SELECT component_id, n_members, b[3] AS kept_doc, -b[1] AS kept_tokens
FROM agg
"""


SEMDEDUP_COS = 0.4  # within-cluster cosine above this = semantic dup


def dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication with
    k-means-bounded candidate generation -- cluster the embeddings
    (the exact distributed Lloyd's of similarity.similarity_kmeans),
    then compare pairs ONLY within a cluster and drop every vector
    whose cosine to a lower-id cluster-mate exceeds the threshold.
    This is the curation step that removes *semantic* duplicates
    (paraphrases, templated rewrites) that exact/MinHash dedup cannot
    see, at O(sum of cluster-size^2) instead of O(N^2) -- the paper's
    entire scaling argument, reproduced as a plan shape: pairs are
    generated ONLY within a cluster_id group (never a cross join),
    as an Arrow-grouped exact-int64 gram matrix whose cosine doubles
    are bit-identical to cosine_from_ints (see _cluster_pairs below).

    Keep rule: lowest vec_id per duplicate relation (deterministic in
    both engines; the paper's keep-farthest-from-centroid variant is a
    one-line ORDER BY swap on the same candidate set).

    k scales with corpus size -- k = max(8, isqrt(N)) -- which keeps
    expected cluster populations ~sqrt(N) and the pair join at
    O(N^1.5 * dim) total work; the round-9 sf10 sweep caught the fixed
    k=8 version going quadratic (25k-vector clusters -> ~320G pair-dim
    ops, hours at 200k vectors). sqrt also balances the two cost terms
    (assignment O(N*k*dim) vs pairs O(N^2/k*dim)). The oracle derives
    the SAME k in SQL as GREATEST(8, FLOOR(SQRT(COUNT(*)))) --
    bit-identical to isqrt for any feasible N (an integer n is never
    within the half-ulp of (m+1)^2 that could round FLOOR(SQRT(n))
    up past isqrt(n)). The pair join shuffles (cluster_id) keys only,
    and the verify is embarrassingly parallel over candidate pairs."""
    import math

    from .similarity import (
        K_CLUSTERS,
        _kmeans_assign,
        _kmeans_quantized,
        _kmeans_train,
    )

    q = _kmeans_quantized(spark, sf_dir)
    # k is UNCAPPED: past CENTROID_LITERAL_BUDGET (k=64 at dim 64)
    # _kmeans_assign switches to a broadcast-joined centroid table, so
    # cluster populations stay ~sqrt(N) at any corpus size -- a fixed
    # cluster ceiling would re-open the O(N^2/k_max) pair-join tail at
    # billion-vector scale (the same failure mode the round-9 sf10
    # sweep caught for fixed k=8, one decade later)
    k = max(K_CLUSTERS, math.isqrt(q.count()))
    cents = _kmeans_train(q, k=k)
    asg = _kmeans_assign(q, cents).select("vec_id", "cluster_id", "qv")
    # Within-cluster pair stage: Arrow-grouped blockwise gram matrix.
    # The previous cluster_id equi-join materialized sum(n_c^2)/2 ~
    # N^2/(2k) pair rows, each paying an interpreted dim-wide HOF dot
    # (~O(N^1.5 * dim) lambda steps; the round-10 sf100 sweep measured
    # the whole run projecting to 4-5 h at N=2M on 32 cores). One
    # cluster is ~sqrt(N) vectors by construction (16 MB of int64s at a
    # BILLION vectors), so each group fits a task comfortably and the
    # gram matrix Q @ Q.T computes every pairwise dot in one exact-int64
    # BLAS pass; cosine assembles the SAME ieee754 double ops as
    # cosine_from_ints (int64->double each operand, one sqrt each, one
    # multiply, one divide), so the >= threshold decides identically to
    # the joined path and the DuckDB oracle. Row blocks bound the dense
    # cos slab at ~8e6 cells per pass for degenerate giant clusters.
    # Shuffle cost: ~N rows keyed by cluster_id (vs the join's
    # N^2/(2k) intermediate).
    def _cluster_pairs(key, pdf):
        import numpy as _np
        import pandas as _pd

        pdf = pdf.sort_values("vec_id")  # index order == vec_id order
        n = len(pdf)
        qm = _np.array(list(pdf["qv"]), dtype=_np.int64)
        n2 = _np.einsum("ij,ij->i", qm, qm)
        rs = _np.sqrt(n2.astype(_np.float64))  # sqrt(CAST(n2 AS DOUBLE))
        n_pairs = 0
        removed_any = _np.zeros(n, dtype=bool)
        block = max(1, 8_000_000 // max(n, 1))
        for s in range(0, n, block):
            e = min(n, s + block)
            g = qm[s:e] @ qm.T  # exact int64 dots, every pair
            cos = g.astype(_np.float64) / (rs[s:e, None] * rs[None, :])
            m = cos >= SEMDEDUP_COS
            # zero-norm quantized vectors yield 0/0 = NaN; numpy's
            # `>=` is False for NaN but Spark/DuckDB order NaN as the
            # GREATEST value, so the joined path and the oracle count
            # such pairs as duplicates -- replicate NaN-as-greatest
            # here to keep "decides identically" true for zero vectors
            m |= _np.isnan(cos)
            m &= _np.arange(n)[None, :] > _np.arange(s, e)[:, None]
            n_pairs += int(m.sum())
            removed_any |= m.any(axis=0)
        n_removed = int(removed_any.sum())
        return _pd.DataFrame(
            [
                {
                    "cluster_id": int(key[0]),
                    "n_vecs": n,
                    "n_dup_pairs": n_pairs,
                    "n_removed": n_removed,
                    "n_kept": n - n_removed,
                }
            ]
        )

    return (
        asg.groupBy("cluster_id")
        .applyInPandas(
            _cluster_pairs,
            schema="cluster_id int, n_vecs bigint, n_dup_pairs bigint, "
            "n_removed bigint, n_kept bigint",
        )
        .orderBy("cluster_id")
    )


def _dedup_semantic_sql() -> str:
    from .similarity import K_CLUSTERS, _kmeans_cte_sql

    cos = cosine_from_ints_sql(
        dot_int_sql("qa.qv", "qb.qv"), "qa.n2", "qb.n2"
    )
    # same uncapped k = max(8, isqrt(N)) as the Spark side
    k_expr = (
        f"(SELECT GREATEST({K_CLUSTERS}, "
        "CAST(FLOOR(SQRT(COUNT(*))) AS BIGINT)) FROM embeddings)"
    )
    return (
        _kmeans_cte_sql(k_expr)
        + f""",
qn AS (
  SELECT vec_id, qv, {dot_int_sql('qv', 'qv')} AS n2 FROM q
),
dup_pairs AS (
  SELECT a.cluster_id, b.vec_id AS removed
  FROM asg a
  JOIN asg b ON a.cluster_id = b.cluster_id AND a.vec_id < b.vec_id
  JOIN qn qa ON qa.vec_id = a.vec_id
  JOIN qn qb ON qb.vec_id = b.vec_id
  WHERE {cos} >= {SEMDEDUP_COS}
),
rem AS (
  SELECT cluster_id, COUNT(*) AS n_dup_pairs,
         COUNT(DISTINCT removed) AS n_removed
  FROM dup_pairs GROUP BY cluster_id
)
SELECT g.cluster_id, g.n_vecs,
       COALESCE(rem.n_dup_pairs, 0) AS n_dup_pairs,
       COALESCE(rem.n_removed, 0) AS n_removed,
       g.n_vecs - COALESCE(rem.n_removed, 0) AS n_kept
FROM (SELECT cluster_id, COUNT(*) AS n_vecs FROM asg GROUP BY cluster_id) g
LEFT JOIN rem USING (cluster_id)
ORDER BY g.cluster_id
"""
    )


QUERIES = {
    "dedup_semantic": dedup_semantic,
    "dedup_exact": dedup_exact,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_embedding": dedup_embedding,
    "dedup_connected_components": dedup_connected_components,
    "dedup_apply": dedup_apply,
    "dedup_keep_best": dedup_keep_best,
}

ORACLES = {
    "dedup_semantic": _dedup_semantic_sql(),
    "dedup_exact": DEDUP_EXACT_SQL,
    "dedup_minhash_lsh": _minhash_sql(),
    "dedup_simhash": _simhash_sql(),
    "dedup_ngram_jaccard": _ngram_jaccard_sql(),
    "dedup_embedding": _dedup_embedding_sql(),
    "dedup_connected_components": _connected_components_sql(),
    "dedup_apply": _dedup_apply_sql(),
    "dedup_keep_best": _keep_best_sql(),
}
