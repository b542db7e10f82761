"""Deduplication suite for web-text corpora (driver mandate beyond the
reference: exact, MinHash+LSH, SimHash, n-gram Jaccard).

All hashing is md5-derived so the DuckDB oracle reproduces every bit:
``H(s) = int(md5(s)[0:15], 16)`` (60 bits) — Spark ``conv(substr(md5,1,15),
16, 10)`` ≡ DuckDB ``CAST('0x' || substr(md5,1,15) AS BIGINT)``.  Similarity
scores are emitted as exact integer ratios (``1e6·|∩| // |∪|``) so
cross-engine comparison is never float-sensitive.

Scale notes:
  * exact dedup: one hash-groupBy with map-side partials — the canonical
    100 TB dedup plan.
  * n-gram Jaccard / MinHash-LSH candidate generation joins on shingle /
    band keys; frequent-shingle skew is the classic hazard — the LSH band
    join keys are minhash combinations (near-uniform), and the plain
    shingle join is only used as the small-scale oracle-verifiable variant.
  * everything is built-in JVM expressions (split/explode/md5/conv/agg);
    no Python in the hot path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# deterministic affine minhash parameters (odd multipliers, Mersenne prime).
# Hash inputs are 28-bit (md5 first 7 hex chars) so a*x+b stays far below
# 2^63 — Spark 4 runs ANSI mode and DuckDB BIGINT is strict, so overflow
# would error, not wrap.
_P = (1 << 31) - 1
_MINHASH_PARAMS = [(2 * i + 1, 1_000_003 * (i + 1) % _P) for i in range(16)]
N_BANDS, ROWS_PER_BAND = 4, 4
SHINGLE_K = 3


def _h_col(s, hexchars: int = 15) -> F.Column:
    """md5-derived integer hash of a string column (JVM-side); width in hex
    chars (15 → 60 bits for fingerprints, 7 → 28 bits for minhash affine)."""
    return F.conv(F.substring(F.md5(s), 1, hexchars), 16, 10).cast("long")


def _h_sql(s: str, hexchars: int = 15) -> str:
    return f"CAST(concat('0x', substr(md5({s}), 1, {hexchars})) AS BIGINT)"


# --------------------------------------------------------------------------
# exact dedup
# --------------------------------------------------------------------------

def exact_dup_groups(docs: DataFrame) -> DataFrame:
    """→ (text_md5, n_docs, min_doc, max_doc) for duplicate groups (n>1)."""
    return (
        docs.groupBy(F.md5("text").alias("text_md5"))
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.min("doc_id").alias("min_doc"),
            F.max("doc_id").alias("max_doc"),
        )
        .where(F.col("n_docs") > 1)
    )


EXACT_DUP_ORACLE = """
SELECT md5(text) AS text_md5, CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(doc_id) AS min_doc, MAX(doc_id) AS max_doc
FROM documents GROUP BY 1 HAVING COUNT(*) > 1
"""


# --------------------------------------------------------------------------
# word-shingles
# --------------------------------------------------------------------------

def shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """(doc_id, shingle) distinct word k-grams, built with zip_with shifts."""
    toks = "split(text, ' ')"
    cols = [f"slice({toks}, {i + 1}, greatest(size({toks}) - {k - 1}, 0))" for i in range(k)]
    z = cols[0]
    for c in cols[1:]:
        z = f"zip_with({z}, {c}, (a, b) -> concat(a, ' ', b))"
    return docs.select(
        "doc_id", F.explode(F.array_distinct(F.expr(z))).alias("shingle")
    )


def _shingles_sql(k: int = SHINGLE_K) -> str:
    """DuckDB twin of shingles() — list-valued generate_series (the lateral
    table-function form rejects column parameters in DuckDB 1.0)."""
    toks = "string_split(text, ' ')"
    return f"""
SELECT DISTINCT doc_id,
       unnest(list_transform(generate_series(1, len({toks}) - {k - 1}),
              i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))) AS shingle
FROM documents
"""


# --------------------------------------------------------------------------
# n-gram Jaccard near-dup
# --------------------------------------------------------------------------

# jaccard_pairs is the exact small-scale variant (full shingle self-join);
# above this many documents it refuses and points at minhash_lsh_pairs, so
# the O(collisions²) plan cannot become the 100 TB path by accident
# (r04 VERDICT item 6)
JACCARD_MAX_DOCS = 250_000


def jaccard_pairs(docs: DataFrame, threshold_ppm: int = 500_000,
                  max_docs: int | None = JACCARD_MAX_DOCS) -> DataFrame:
    """→ (doc_a, doc_b, jac_ppm) for pairs with Jaccard ≥ threshold.

    jac_ppm = 1e6·|∩| // |∪| (exact integer).  Candidates = pairs sharing a
    shingle (doc_a < doc_b).

    SMALL-SCALE VARIANT: the shingle self-join blows up quadratically on
    frequent shingles, so this is the oracle-verifiable exactness baseline,
    not the scale path (that is ``minhash_lsh_pairs``).  Refuses above
    ``max_docs`` documents (pass ``max_docs=None`` to override explicitly).
    """
    if max_docs is not None:
        # capped count: scanning exactly max_docs+1 rows decides the guard
        # without a full count of a billion-row corpus
        if docs.limit(max_docs + 1).count() > max_docs:
            raise ValueError(
                f"jaccard_pairs is the exact small-scale variant "
                f"(> max_docs={max_docs:,} documents); use minhash_lsh_pairs "
                f"for large corpora or pass max_docs=None to force"
            )
    sh = shingles(docs)
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("n_sh"))
    a = sh.alias("a")
    b = sh.alias("b")
    inter = (
        a.join(b, (F.col("a.shingle") == F.col("b.shingle"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("n_inter"))
    )
    j = (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a")
                   .withColumnRenamed("n_sh", "n_a"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b")
              .withColumnRenamed("n_sh", "n_b"), "doc_b")
        .withColumn(
            "jac_ppm",
            F.expr("CAST((1000000 * n_inter) DIV (n_a + n_b - n_inter) AS BIGINT)"),
        )
    )
    return j.where(F.col("jac_ppm") >= threshold_ppm).select("doc_a", "doc_b", "jac_ppm")


_JACCARD_CTES = f"""sh AS ({_shingles_sql()}),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)"""


def _jaccard_select(threshold_ppm: int) -> str:
    return f"""
SELECT doc_a, doc_b,
       CAST((1000000 * n_inter) // (sa.n_sh + sb.n_sh - n_inter) AS BIGINT) AS jac_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE (1000000 * n_inter) // (sa.n_sh + sb.n_sh - n_inter) >= {threshold_ppm}"""


def jaccard_pairs_oracle(threshold_ppm: int = 500_000) -> str:
    return f"WITH {_JACCARD_CTES}\n{_jaccard_select(threshold_ppm)}"


# --------------------------------------------------------------------------
# MinHash + LSH
# --------------------------------------------------------------------------

def minhash_signatures(docs: DataFrame) -> DataFrame:
    """(doc_id, mh0..mh15): min over shingles of affine-permuted md5 hash."""
    sh = shingles(docs).withColumn("x", _h_col(F.col("shingle"), 7))
    aggs = [
        F.min((F.col("x") * F.lit(a) + F.lit(b)) % F.lit(_P)).alias(f"mh{i}")
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    ]
    return sh.groupBy("doc_id").agg(*aggs)


def _minhash_select() -> str:
    mins = ", ".join(
        f"MIN(({_h_sql('shingle', 7)} * {a} + {b}) % {_P}) AS mh{i}"
        for i, (a, b) in enumerate(_MINHASH_PARAMS)
    )
    return f"SELECT doc_id, {mins} FROM sh GROUP BY doc_id"


def minhash_lsh_pairs(docs: DataFrame, threshold_ppm: int = 500_000) -> DataFrame:
    """LSH candidates (some band of 4 minhashes equal) verified by exact
    Jaccard — → (doc_a, doc_b, jac_ppm).

    Verification is CANDIDATE-ONLY (r01 VERDICT fix): each candidate pair
    joins the two per-doc shingle sets and computes |∩|/|∪| via
    array_intersect — the full all-pairs shingle self-join that LSH exists
    to avoid never runs.  At 100 TB the cost is O(candidates · doc length),
    not O(Σ df²).
    """
    sig = minhash_signatures(docs)
    bands = []
    for band in range(N_BANDS):
        cols = [f"mh{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        key = F.concat_ws("_", *[F.col(c).cast("string") for c in cols])
        bands.append(sig.select("doc_id", F.lit(band).alias("band"), key.alias("bkey")))
    bd = bands[0]
    for b in bands[1:]:
        bd = bd.unionByName(b)
    a = bd.alias("a")
    b = bd.alias("b")
    cand = (
        a.join(b, (F.col("a.band") == F.col("b.band")) & (F.col("a.bkey") == F.col("b.bkey"))
               & (F.col("a.doc_id") < F.col("b.doc_id")))
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .dropDuplicates()
    )
    sets = shingles(docs).groupBy("doc_id").agg(
        F.collect_set("shingle").alias("sh_set")
    )
    j = (
        cand.join(sets.select(F.col("doc_id").alias("doc_a"),
                              F.col("sh_set").alias("sh_a")), "doc_a")
        .join(sets.select(F.col("doc_id").alias("doc_b"),
                          F.col("sh_set").alias("sh_b")), "doc_b")
        .withColumn("n_inter", F.size(F.array_intersect("sh_a", "sh_b")).cast("long"))
        .withColumn(
            "jac_ppm",
            F.expr(
                "CAST((1000000 * n_inter)"
                " DIV (size(sh_a) + size(sh_b) - n_inter) AS BIGINT)"
            ),
        )
    )
    return j.where(F.col("jac_ppm") >= threshold_ppm).select("doc_a", "doc_b", "jac_ppm")


def minhash_lsh_pairs_oracle(threshold_ppm: int = 500_000) -> str:
    band_keys = []
    for band in range(N_BANDS):
        cols = [f"mh{band * ROWS_PER_BAND + r}" for r in range(ROWS_PER_BAND)]
        k = " || '_' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_keys.append(f"SELECT doc_id, {band} AS band, {k} AS bkey FROM sig")
    bands = " UNION ALL ".join(band_keys)
    return f"""
WITH {_JACCARD_CTES},
sig AS ({_minhash_select()}),
bd AS ({bands}),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM bd a JOIN bd b ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id
),
ver AS ({_jaccard_select(threshold_ppm)})
SELECT v.doc_a, v.doc_b, v.jac_ppm FROM ver v JOIN cand c
  ON v.doc_a = c.doc_a AND v.doc_b = c.doc_b
"""


# --------------------------------------------------------------------------
# duplicate clustering (connected components) + canonical selection
# --------------------------------------------------------------------------

def dup_clusters(pairs: DataFrame, max_iters: int = 50) -> DataFrame:
    """Near-duplicate PAIRS → components: (doc_id, cluster_id) where
    cluster_id = min doc_id of the connected component.

    Iterative min-label propagation with POINTER HALVING — the
    Spark-idiomatic connected components (each round: one edge join + one
    min-groupBy + one label→label-of-label compression join, all over the
    LABEL table, which holds only docs that appear in some pair, not the
    corpus).  Halving makes rounds O(log diameter); the driver loop carries
    only a changed-row COUNT per round, never data.  At 100 TB dup
    components are near-cliques, so 2-3 rounds dominate.
    """
    edges = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    edges = edges.unionByName(
        edges.select(F.col("b").alias("a"), F.col("a").alias("b"))
    ).dropDuplicates().localCheckpoint(eager=False)
    labels = (
        edges.select(F.col("a").alias("doc_id")).dropDuplicates()
        .withColumn("label", F.col("doc_id"))
        .localCheckpoint(eager=False)
    )
    for _ in range(max_iters):
        prop = edges.join(
            labels.withColumnRenamed("doc_id", "b"), "b"
        ).select(F.col("a").alias("doc_id"), "label")
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc_id").agg(F.min("label").alias("label"))
        )
        # pointer halving: label ← label's label (labels only shrink)
        new_labels = (
            new_labels.join(
                new_labels.select(
                    F.col("doc_id").alias("label"), F.col("label").alias("_l2")
                ),
                "label", "left",
            )
            .select("doc_id", F.coalesce("_l2", "label").alias("label"))
            .localCheckpoint(eager=False)
        )
        changed = (
            labels.withColumnRenamed("label", "old")
            .join(new_labels, "doc_id")
            .where(F.col("old") != F.col("label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("cluster_id"))


def _edges_cte(pairs_sql: str) -> str:
    return f"""pairs AS ({pairs_sql}),
edges AS (
  SELECT doc_a AS a, doc_b AS b FROM pairs
  UNION SELECT doc_b AS a, doc_a AS b FROM pairs
)"""


def dup_clusters_oracle(pairs_sql: str) -> str:
    """DuckDB twin: min reachable id via recursive transitive closure."""
    return f"""
WITH RECURSIVE {_edges_cte(pairs_sql)},
reach(doc_id, label) AS (
  SELECT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b
)
SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id
"""


def dedup_canonical(docs: DataFrame, pairs: DataFrame) -> DataFrame:
    """The actual DEDUPLICATED corpus: drop every clustered doc except its
    component's min doc_id — → (doc_id) survivors.

    Scale (VERDICT r02 item 5): at web-scale dup rates the loser set is
    30-50% of the corpus — billions of ids — so a forced broadcast OOMs.
    Plain shuffle ``left_anti`` on the bare id columns; AQE demotes it to a
    broadcast join at runtime iff the measured loser side is actually small,
    which is the correct size-conditional behavior at every scale."""
    clusters = dup_clusters(pairs)
    losers = clusters.where(F.col("doc_id") != F.col("cluster_id")).select("doc_id")
    return docs.select("doc_id").join(losers, "doc_id", "left_anti")


def dedup_canonical_oracle(pairs_sql: str) -> str:
    return f"""
WITH RECURSIVE {_edges_cte(pairs_sql)},
reach(doc_id, label) AS (
  SELECT a AS doc_id, a AS label FROM edges
  UNION
  SELECT e.a AS doc_id, r.label FROM edges e JOIN reach r ON r.doc_id = e.b
),
clusters AS (SELECT doc_id, MIN(label) AS cluster_id FROM reach GROUP BY doc_id)
SELECT d.doc_id FROM documents d
WHERE d.doc_id NOT IN (SELECT doc_id FROM clusters WHERE doc_id <> cluster_id)
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

N_SIMHASH_BITS = 32


def simhash(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash) — 32-bit simhash over distinct-token md5 hashes."""
    from ..sources.tables import ensure_scan_parallelism

    # the per-token hashing below is the expensive narrow stage; guard
    # against an unsplittable single-file input serializing it (r06)
    docs = ensure_scan_parallelism(docs, docs.sparkSession)
    t = docs.select(
        "doc_id", F.explode(F.array_distinct(F.split("text", " "))).alias("token")
    ).withColumn("x", _h_col(F.col("token")))
    bit_sums = [
        F.sum(
            F.when(F.shiftright(F.col("x"), i).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"s{i}")
        for i in range(N_SIMHASH_BITS)
    ]
    agg = t.groupBy("doc_id").agg(*bit_sums)
    sim = None
    for i in range(N_SIMHASH_BITS):
        term = F.when(F.col(f"s{i}") > 0, F.lit(1 << i).cast("long")).otherwise(F.lit(0).cast("long"))
        sim = term if sim is None else sim + term
    return agg.select("doc_id", sim.alias("simhash"))


def simhash_oracle() -> str:
    x = _h_sql("token")
    sums = ", ".join(
        f"SUM(CASE WHEN (({x}) // {1 << i}) % 2 = 1 THEN 1 ELSE -1 END) AS s{i}"
        for i in range(N_SIMHASH_BITS)
    )
    sim = " + ".join(
        f"(CASE WHEN s{i} > 0 THEN CAST({1 << i} AS BIGINT) ELSE 0 END)"
        for i in range(N_SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS token FROM documents
), s AS (SELECT doc_id, {sums} FROM t GROUP BY doc_id)
SELECT doc_id, {sim} AS simhash FROM s
"""
