"""Deduplication & near-duplicate detection for LLM data pipelines
(north-star extension, BASELINE.json).

Five strategies, each a DataFrame-in/DataFrame-out operator designed
for 100 TB inputs, each with a DuckDB-SQL twin for the oracle gate:

- exact:      hash-groupBy on a normalized key; one shuffle, fully
              map-side-combinable.
- minhash:    shingle -> k parametric min-hashes -> banded LSH;
              candidate pairs come from a self-join on (band, signature)
              buckets — the standard shuffle-on-bucket design whose join
              fan-out is bounded by bucket size, not corpus size.
- simhash:    32-bit sign-aggregate fingerprint; near-dup = small
              Hamming distance.
- ngram-jaccard: exact Jaccard over word n-gram shingle sets via a
              shingle-inverted self-join (the verify stage after LSH).
- embedding:  cosine near-dup pairs over the embeddings table; exact
              pairs via block matmul, or LSH-banded sign-bit prefilter.

All hash arithmetic is md5-derived + mod-P bounded so Spark and DuckDB
agree bit-for-bit (see gamma_spark.functions.text.hash60).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from gamma_spark.functions import text as T
from gamma_spark.functions import vector as V

P = T.HASH_P

#: parametric minhash family h_i(x) = (A[i] * (x % P) + B[i]) % P —
#: fixed constants shared verbatim with the SQL twin. 32 hashes in
#: 8 bands of 4 rows: detection probability 1-(1-s^4)^8, ~0.99 at
#: shingle-jaccard 0.8 (measured 0.88 planted-pair recall with 16/4 on
#: the 100k rehearsal; 32/8 lifts the S-curve).
MINHASH_A = (
    1103515245, 12345679, 962271285, 423338069, 752877437, 286293355,
    429496729, 1013904223, 1664525013, 22695477, 214013151, 134775813,
    65793017, 1229782938, 1865811235, 1291394886,
    48271007, 69621113, 39916801, 715827883, 100000037, 999999937,
    179424673, 373587883, 479001599, 87178291, 122949823, 275604541,
    533000389, 608359049, 768614333, 926155691,
)
MINHASH_B = (
    12345, 67891, 28411, 10429, 44497, 86243,
    110503, 132049, 20996011, 24036583, 25964951, 30402457,
    32582657, 37156667, 42643801, 43112609,
    57885161, 74207281, 77232917, 82589933, 23209, 44101,
    86028121, 15485863, 32452843, 49979687, 67867967, 86028157,
    104395301, 122949829, 141650939, 160481183,
)
N_HASHES = 32
N_BANDS = 8  # 4 rows per band

# ADVICE r11: the F.expr f-string interpolation below (minhash_signatures)
# ties literal TYPING to SQL parser rules — constants must stay within
# INT32 so the parsed literals type as INT exactly like F.lit() would;
# a constant raised past 2^31 would silently reparse as BIGINT and the
# canonical-parity pin only covers the current values. Import-time guard:
assert all(
    0 <= v < 2**31 for v in (P, *MINHASH_A, *MINHASH_B)
), "minhash constants must fit INT32 (SQL literal typing, see ADVICE r11)"


def _stage(df: DataFrame) -> DataFrame:
    """See :func:`gamma_spark.session.stage` — persist an intermediate
    that the self-joins below consume 2-5x."""
    from gamma_spark.session import stage

    return stage(df)


def _read_tree(spark, path: str) -> DataFrame:
    """Read an index relation that may mix root-level files (from
    ``build``) with per-batch subdirectories (``batch-<id>``, written
    by idempotent appends): recursive listing, no partition inference.
    Spark's lister skips ``_``/``.``-prefixed paths, so commit markers
    and in-flight ``_temporary`` dirs are never picked up."""
    return spark.read.option("recursiveFileLookup", "true").parquet(path)


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_dedup(df: DataFrame, id_col: str, key: Column) -> DataFrame:
    """Assign every row its group keeper (min id per identical key) —
    one hash aggregation, map-side combinable; `filter(id == keeper)`
    yields the deduplicated corpus.

    NULL keys (e.g. NULL-text docs on a raw 100 TB crawl) form ONE
    group — SQL grouping semantics, identical to the oracle twin's
    PARTITION BY — via a null-safe join key; a plain equi-join would
    silently DROP every NULL-key row from the output (NULL != NULL).
    Callers that want content-less docs kept instead pass a coalesced
    key (e.g. ``coalesce(key, id)``)."""
    keyed = df.select(F.col(id_col), key.alias("_key"))
    groups = keyed.groupBy("_key").agg(
        F.min(id_col).alias("keeper_id"), F.count(F.lit(1)).alias("group_size")
    ).withColumnRenamed("_key", "_gkey")
    return (
        keyed.join(
            groups, on=F.col("_key").eqNullSafe(F.col("_gkey")), how="inner"
        )
        .select(id_col, "keeper_id", "group_size")
    )


def sql_exact_dedup(table: str, id_col: str, key_sql: str) -> str:
    return f"""
SELECT {id_col},
       min({id_col}) OVER (PARTITION BY {key_sql}) AS keeper_id,
       count(*) OVER (PARTITION BY {key_sql}) AS group_size
FROM {table}
"""


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def shingles(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, distinct: bool = True
) -> DataFrame:
    """Distinct word n-gram shingles per doc: (id, shingle).

    ``distinct=False`` skips the corpus-wide dedup shuffle and emits the
    raw shingle stream (map-only) — for consumers that prune the stream
    first (e.g. :func:`decontaminate`'s broadcast semi-join) and can
    dedupe the far smaller matched subset instead."""
    toks = T.tokens(text_col)
    # Stage the token array in its OWN projection and reference it as an
    # attribute inside the transform lambda. A higher-order function is
    # interpreted (no codegen CSE), so an expression referenced in the
    # lambda BODY re-evaluates per element — with split() inlined the
    # explode re-tokenized the full text n times per shingle, O(len^2)
    # per doc (measured 13x on the sf0.1 explode: 6.1 s -> 0.45 s).
    # CollapseProject keeps the stage: the alias is non-cheap and
    # multiply-referenced, so the optimizer does not re-inline it.
    staged = df.select(F.col(id_col), toks.alias("__sh_toks")).filter(
        F.size("__sh_toks") >= n
    )
    tref = F.col("__sh_toks")
    grams = F.transform(
        F.sequence(F.lit(0), F.size(tref) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(tref, (i + j + 1).cast("int")) for j in range(n)]),
    )
    from gamma_spark.session import ensure_parallelism

    # explode to ~50x rows, then 32 hash evals per shingle downstream:
    # CPU per input byte is ~3 orders over a plain scan
    base = ensure_parallelism(staged, fanout=500.0)
    out = base.select(F.col(id_col), F.explode(grams).alias("shingle"))
    return out.distinct() if distinct else out


def sql_shingles(table: str, id_col: str, text_col: str, n: int = 3) -> str:
    toks = T.sql_tokens(text_col)
    parts = " || ' ' || ".join(f"t[i + {j}]" for j in range(n))
    return f"""
SELECT DISTINCT {id_col},
       unnest([{parts} for i in generate_series(1, len(t) - {n - 1})]) AS shingle
FROM (SELECT {id_col}, {toks} AS t FROM {table}) s
WHERE len(t) >= {n}
"""


# ---------------------------------------------------------------------------
# minhash + banded LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    sh: DataFrame, id_col: str, hashed: bool = False
) -> DataFrame:
    """(id, h0..h{N_HASHES-1}): minhash over the doc's shingle set.

    The md5-derived shingle hash is projected ONCE before the aggregate
    (N_HASHES min() aggs each referencing the raw expression would
    recompute the md5 once per agg per row). ``hashed=True`` declares the ``shingle``
    column already carries :func:`~gamma_spark.functions.text.hash60`
    longs (see :func:`minhash_verified_pairs`'s early-hash staging), so
    only the pmod projection remains.

    The N_HASHES aggregates are built as parsed ``F.expr`` strings
    (one py4j round-trip each) instead of Column algebra (~6 round
    trips per hash): the entry's DAG is rebuilt on every bench repeat,
    and the driver-side construction of this list alone measured
    0.40 s -> 0.10 s (r11 §15). The parsed plan is canonically
    IDENTICAL to the Column-built one (asserted by test)."""
    sh_col = F.col("shingle") if hashed else T.hash60("shingle")
    hashed = sh.select(F.col(id_col), F.pmod(sh_col, F.lit(P)).alias("_x"))
    aggs = [
        F.expr(f"min(({a} * _x + {b}) % {P}) AS h{i}")
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    ]
    return hashed.groupBy(id_col).agg(*aggs)


def sql_minhash_signatures(shingles_sql: str, id_col: str) -> str:
    x = f"({T.sql_hash60('shingle')} % {P})"
    aggs = ", ".join(
        f"min(({a} * {x} + {b}) % {P}) AS h{i}"
        for i, (a, b) in enumerate(zip(MINHASH_A, MINHASH_B))
    )
    return f"SELECT {id_col}, {aggs} FROM ({shingles_sql}) GROUP BY {id_col}"


def banded_signatures(sig: DataFrame, id_col: str) -> DataFrame:
    """(id, band, bsig): each doc's N_BANDS LSH bucket keys — the
    relation both the self-join and the materialized index store."""
    rows_per_band = N_HASHES // N_BANDS
    # one parsed expression instead of N_BANDS x rows_per_band Column
    # calls (r11 §15 driver-chatter cut; canonically identical plan)
    bands = F.expr(
        "array("
        + ", ".join(
            "concat_ws(':', "
            + ", ".join(
                f"h{b * rows_per_band + r}" for r in range(rows_per_band)
            )
            + ")"
            for b in range(N_BANDS)
        )
        + ")"
    )
    return sig.select(F.col(id_col), F.posexplode(bands).alias("band", "bsig"))


def _star_edges(banded: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Per-bucket (min-id hub → member) edges: m−1 rows for an m-member
    bucket, NOT deduped across buckets. The hub min() is map-side
    combinable and the hub join fans out m×1 — linear in the bucket
    however skewed it is."""
    hubs = banded.groupBy(*keys).agg(F.min(id_col).alias("_hub"))
    return (
        banded.join(hubs, on=keys)
        .filter(F.col(id_col) != F.col("_hub"))
        .select(F.col("_hub").alias("id_a"), F.col(id_col).alias("id_b"))
    )


def _allpairs_edges(banded: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Every within-bucket (id_a < id_b) pair: C(m, 2) rows per bucket,
    NOT deduped across buckets."""
    a, b = banded.alias("a"), banded.alias("b")
    cond = F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
    for k in keys:
        cond = (F.col(f"a.{k}") == F.col(f"b.{k}")) & cond
    return a.join(b, on=cond).select(
        F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b")
    )


#: hybrid-mode crossover: buckets at or under this size keep exact
#: all-pairs edges (<= ~32k pairs each); larger buckets — the
#: mega-cluster regime — switch to star edges
STAR_CAP = 256


def _hybrid_edges(
    banded: DataFrame, keys: list[str], id_col: str, star_cap: int
) -> DataFrame:
    """Size-adaptive within-bucket edges: all-pairs for buckets of at
    most ``star_cap`` members, star for larger ones. One extra
    map-side-combinable size aggregate on the same keys the join
    shuffles on.

    Size = count_distinct(id), matching :func:`lsh_bucket_stats` — the
    diagnostic operators use to pick the mode and cap must agree with
    the gate that applies them (a raw row count would read duplicated
    (member, bucket) rows as a bigger bucket and silently flip it to
    star edges the diagnostic predicted would stay exact).

    The tagged relation is STAGED: it is shuffle-produced (size agg +
    key join — the module rule is "stage shuffled aggregates, not
    map-only expansions") and feeds four subplans (both all-pairs join
    sides, the star member side, the star hub aggregate); unstaged,
    Catalyst re-derives the banded input and the size shuffle per
    reference."""
    sizes = banded.groupBy(*keys).agg(
        F.count_distinct(F.col(id_col)).alias("_bsz")
    )
    tagged = _stage(banded.join(sizes, on=keys))
    small = tagged.filter(F.col("_bsz") <= star_cap).drop("_bsz")
    big = tagged.filter(F.col("_bsz") > star_cap).drop("_bsz")
    return _allpairs_edges(small, keys, id_col).unionByName(
        _star_edges(big, keys, id_col)
    )


def _bucket_edges(
    banded: DataFrame, keys: list[str], id_col: str, pairs: str, star_cap: int
) -> DataFrame:
    if pairs == "all":
        return _allpairs_edges(banded, keys, id_col)
    if pairs == "star":
        return _star_edges(banded, keys, id_col)
    if pairs == "hybrid":
        return _hybrid_edges(banded, keys, id_col, star_cap)
    raise ValueError(f"pairs={pairs!r}: expected 'all', 'star' or 'hybrid'")


def lsh_candidate_pairs(
    sig: DataFrame, id_col: str, pairs: str = "all", star_cap: int = STAR_CAP
) -> DataFrame:
    """Distinct (id_a < id_b) pairs sharing at least one band signature.
    The self-join shuffles on (band, signature) — bucket-bounded fan-out.

    ``pairs`` picks the within-bucket edge set:

    - ``"all"`` (default, the oracle semantics): every pair in the
      bucket — C(m, 2) output rows for an m-member bucket. Correct for
      pairwise consumers (the exact-Jaccard verify), but QUADRATIC in
      the bucket: a web-scale boilerplate cluster of 10^6 identical
      docs lands in one bucket and emits 5×10^11 rows per band — AQE
      skew-splitting redistributes the *input* rows, it cannot shrink
      that *output*. This is the one unbounded cost in the dedup
      family at 100 TB.
    - ``"star"`` (the mega-cluster scale path): per bucket, emit only
      (min-id hub, member) edges — m−1 rows. For the connected-
      components / group-resolution consumer of these UNVERIFIED
      candidates this is LOSSLESS: a bucket's star connects exactly
      the same members as its clique, so CC over star edges equals CC
      over all edges for every input (pinned by test). Consumers that
      re-verify each candidate pairwise (exact-Jaccard) must use
      ``"all"`` or ``"hybrid"`` — after a verify filter the star
      theorem no longer holds (a dissimilar bucket-min hub would
      orphan genuinely-similar members).
    - ``"hybrid"``: all-pairs for buckets of at most ``star_cap``
      members, star above — bounded cost with exact edges everywhere
      except inside diagnosed mega-buckets (where members are
      near-identical and any hub is representative).
    """
    banded = banded_signatures(sig, id_col)
    return _bucket_edges(banded, ["band", "bsig"], id_col, pairs, star_cap).distinct()


def lsh_bucket_stats(banded: DataFrame, keys: list[str], id_col: str) -> DataFrame:
    """Bucket-skew diagnostic for any (band-key, member) relation —
    run it BEFORE an all-pairs candidate join to see what the join
    will cost. One row per bucket size m: how many buckets have that
    size, the all-pairs output those buckets will emit (m·(m−1)/2
    each) and the star-mode output (m−1 each). The top row of
    ``ORDER BY size DESC`` is the mega-cluster alarm: a single 10^5-
    member bucket means ~5×10^9 all-pairs rows before dedup.

    ``keys`` are the bucket key columns (e.g. ["band", "bsig"]);
    aggregates are map-side combinable, so the diagnostic itself is
    skew-proof."""
    sizes = banded.groupBy(*keys).agg(
        F.count_distinct(F.col(id_col)).alias("size")
    )
    m = F.col("size").cast("long")
    # integer arithmetic throughout: m(m-1) is always even, so the
    # shift-right halving is exact to 2^63 — a `/ 2` would promote to
    # double and silently round above 2^53, exactly in the web-scale
    # regime this diagnostic exists to warn about
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_buckets"))
        .select(
            "size",
            "n_buckets",
            (F.shiftright(m * (m - F.lit(1)), 1) * F.col("n_buckets"))
            .alias("allpairs_rows"),
            ((m - F.lit(1)) * F.col("n_buckets")).alias("star_rows"),
        )
        .orderBy(F.col("size").desc())
    )


def sql_lsh_candidate_pairs(
    signatures_sql: str, id_col: str, pairs: str = "all",
    star_cap: int = STAR_CAP,
) -> str:
    """DuckDB twin of :func:`lsh_candidate_pairs` — all three
    ``pairs`` modes (same bucket-min hub construction, same
    count-distinct size crossover), so every text-path edge mode is
    oracle-checkable."""
    rows_per_band = N_HASHES // N_BANDS
    selects = []
    for b in range(N_BANDS):
        cols = " || ':' || ".join(
            f"h{b * rows_per_band + r}::VARCHAR" for r in range(rows_per_band)
        )
        selects.append(f"SELECT {id_col}, {b} AS band, {cols} AS bsig FROM sig")
    banded = " UNION ALL ".join(selects)
    hubs = (
        f"SELECT band, bsig, min({id_col}) AS hub, "
        f"count(DISTINCT {id_col}) AS cnt FROM banded GROUP BY band, bsig"
    )
    if pairs == "star":
        return f"""
WITH sig AS ({signatures_sql}),
banded AS ({banded}),
hubs AS ({hubs})
SELECT DISTINCT h.hub AS id_a, m.{id_col} AS id_b
FROM banded m
JOIN hubs h ON m.band = h.band AND m.bsig = h.bsig AND m.{id_col} <> h.hub
"""
    if pairs == "hybrid":
        return f"""
WITH sig AS ({signatures_sql}),
banded AS ({banded}),
hubs AS ({hubs})
SELECT DISTINCT id_a, id_b FROM (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bsig = b.bsig AND a.{id_col} < b.{id_col}
  JOIN hubs h ON h.band = a.band AND h.bsig = a.bsig
  WHERE h.cnt <= {star_cap}
  UNION
  SELECT h.hub AS id_a, m.{id_col} AS id_b
  FROM banded m
  JOIN hubs h ON m.band = h.band AND m.bsig = h.bsig AND m.{id_col} <> h.hub
  WHERE h.cnt > {star_cap}
)
"""
    if pairs != "all":
        raise ValueError(f"pairs={pairs!r}: expected 'all', 'star' or 'hybrid'")
    return f"""
WITH sig AS ({signatures_sql}),
banded AS ({banded})
SELECT DISTINCT a.{id_col} AS id_a, b.{id_col} AS id_b
FROM banded a JOIN banded b
  ON a.band = b.band AND a.bsig = b.bsig AND a.{id_col} < b.{id_col}
"""


def hashed_shingle_stream(
    df: DataFrame, id_col: str, text_col: str, n: int = 3
) -> DataFrame:
    """Raw (non-distinct) hash60 shingle stream — the signature-side
    input shape shared by every minhash path (r6): min() is
    duplicate-insensitive, so skipping the corpus-wide distinct removes
    a |corpus shingles| shuffle, and the 16-byte long keys make the
    stream ~3x narrower than the string form to stage/aggregate.
    Consumers that need per-doc-distinct shingles (the Jaccard verify)
    dedup after their candidate prune."""
    return shingles(df, id_col, text_col, n, distinct=False).select(
        F.col(id_col), T.hash60("shingle").alias("shingle")
    )


def minhash_dedup_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3,
    pairs: str = "all", star_cap: int = STAR_CAP,
) -> DataFrame:
    # both sides of the LSH self-join read the signatures: stage them so
    # the shingle explode + 32-way min-agg runs once, not twice
    sh = hashed_shingle_stream(df, id_col, text_col, n)
    sig = _stage(minhash_signatures(sh, id_col, hashed=True))
    return lsh_candidate_pairs(sig, id_col, pairs=pairs, star_cap=star_cap)


# ---------------------------------------------------------------------------
# exact n-gram jaccard (the LSH verify stage)
# ---------------------------------------------------------------------------

def jaccard_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """Exact Jaccard similarity over shingle sets for every pair sharing
    >= 1 shingle; emits (id_a, id_b, jaccard >= threshold). The shared-
    shingle inverted join bounds the candidate space the same way the
    reference's posting intersections do for filters (SURVEY F6)."""
    sh = shingles(df, id_col, text_col, n)
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    a = sh.alias("a")
    b = sh.alias("b")
    common = (
        a.join(
            b,
            on=(F.col("a.shingle") == F.col("b.shingle"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def sql_jaccard_pairs(
    table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> str:
    sh = sql_shingles(table, id_col, text_col, n)
    return f"""
WITH sh AS ({sh}),
sizes AS (SELECT {id_col}, count(*) AS sz FROM sh GROUP BY {id_col}),
common AS (
  SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, count(*) AS common
  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.{id_col} < b.{id_col}
  GROUP BY 1, 2
)
SELECT id_a, id_b,
       (common)::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE AS jaccard
FROM common
JOIN sizes sa ON sa.{id_col} = id_a
JOIN sizes sb ON sb.{id_col} = id_b
WHERE (common)::DOUBLE / (sa.sz + sb.sz - common)::DOUBLE >= {threshold}
"""


def jaccard_on_pairs(
    pairs: DataFrame,
    sh: DataFrame,
    id_col: str,
    threshold: float = 0.5,
) -> DataFrame:
    """Exact-Jaccard VERIFY stage over a candidate-pair relation (the
    step after LSH): scores only the given ``(id_a, id_b)`` pairs
    against the shingle relation — never re-mines the corpus.

    Cost at scale: the shingle relation is first semi-join-pruned to
    docs appearing in a candidate pair (LSH candidates are a vanishing
    fraction of the corpus, so this cuts the shuffled volume from
    |corpus shingles| to |candidate shingles|), then two joins keyed by
    doc id + one count per pair. Candidates with zero common shingles
    are dropped (their Jaccard is 0 — below any positive threshold).
    """
    # the candidate relation is consumed three times (both legs of the
    # member-id union + the expansion join) — and it is itself usually
    # an LSH join; stage it so that join runs once
    pairs = _stage(pairs.select("id_a", "id_b"))
    cand_ids = (
        pairs.select(F.col("id_a").alias(id_col))
        .union(pairs.select(F.col("id_b").alias(id_col)))
        .distinct()
    )
    # the pruned relation is read three times (sizes + both pair joins).
    # The per-doc dedup runs AFTER the candidate prune, so ``sh`` may be
    # the raw (non-distinct) shingle stream: the dedup shuffle is then
    # bounded by |candidate shingles| instead of |corpus shingles| —
    # a no-op when the caller already deduped
    sh = _stage(
        sh.join(cand_ids, on=id_col, how="left_semi")
        .dropDuplicates([id_col, "shingle"])
    )
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("sz"))
    expanded = pairs.join(
        sh.select(F.col(id_col).alias("id_a"), "shingle"), on="id_a"
    )
    common = (
        expanded.join(
            sh.select(F.col(id_col).alias("id_b"), "shingle"),
            on=["id_b", "shingle"],
        )
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("sz").alias("sz_a"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("sz").alias("sz_b"))
    return (
        common.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("sz_a") + F.col("sz_b") - F.col("common")).cast("double"),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def minhash_verified_pairs(
    df: DataFrame, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> DataFrame:
    """The composed scale pipeline: minhash LSH candidate generation ->
    exact Jaccard verify on candidates only. Result = LSH ∩ (J >= t);
    total cost is the LSH join + per-candidate verification, with no
    all-pairs stage anywhere."""
    # sh feeds the signature aggregation AND three joins in the verify
    # stage; sig feeds both sides of the LSH self-join — staged, the
    # shingle explode runs once instead of five times. The shingle is
    # hashed to a hash60 LONG *before* the distinct/stage: the staged
    # relation is ~3x narrower than the string form, which is what the
    # curate sub-stage probe showed going superlinear first at 2M docs
    # on the default heap (the 156M-row string relation outgrows the
    # storage fraction; the long form stays resident — docs/SCALING.md).
    # Jaccard over distinct hashes == Jaccard over distinct shingles
    # absent a within-doc 60-bit collision (~|doc shingles|^2 / 2^60,
    # negligible); the DuckDB twin keeps raw strings, so the oracle
    # hash-check cross-verifies the hashed path end-to-end.
    #
    # No corpus-wide distinct: min() is duplicate-insensitive, so the
    # signature agg consumes the RAW hashed stream (staging it is then
    # map-only — zero shuffle), and the only consumer that needs
    # per-doc-distinct shingles is the Jaccard verify, which dedups
    # AFTER its candidate prune (|candidate shingles|, not |corpus|).
    sh = _stage(hashed_shingle_stream(df, id_col, text_col, n))
    sig = _stage(minhash_signatures(sh, id_col, hashed=True))
    cands = lsh_candidate_pairs(sig, id_col)
    return jaccard_on_pairs(cands, sh, id_col, threshold)


def sql_minhash_verified_pairs(
    table: str, id_col: str, text_col: str, n: int = 3, threshold: float = 0.5
) -> str:
    """DuckDB twin: the LSH candidate set intersected with the exact
    Jaccard relation at the threshold."""
    sig = sql_minhash_signatures(sql_shingles(table, id_col, text_col, n), id_col)
    lsh = sql_lsh_candidate_pairs(sig, id_col)
    jac = sql_jaccard_pairs(table, id_col, text_col, n, threshold)
    return f"""
SELECT p.id_a, p.id_b, j.jaccard
FROM ({lsh}) p JOIN ({jac}) j USING (id_a, id_b)
"""


# ---------------------------------------------------------------------------
# simhash
# ---------------------------------------------------------------------------

SIMHASH_BITS = 32

# same ADVICE-r11 guard for the simhash bit weights: 2**j literals in
# the parsed CASE arms are CAST to BIGINT explicitly, but the bit count
# must keep 2**(SIMHASH_BITS-1) inside int64 for that cast to be exact
assert 2 ** (SIMHASH_BITS - 1) < 2**63, "simhash weights must fit BIGINT"


def simhash(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """32-bit simhash over distinct tokens: bit j set iff
    sum over tokens of (2*bit_j(hash60(tok)) - 1) > 0."""
    from gamma_spark.session import ensure_parallelism

    tok = (
        ensure_parallelism(df, fanout=500.0)
        .select(F.col(id_col), F.explode(T.tokens(text_col)).alias("tok"))
        .distinct()
        .withColumn("h", T.hash60("tok"))
    )
    # parsed expressions instead of ~8 Column calls per bit (r11 §15:
    # the DAG is rebuilt per bench repeat and this site alone was ~64
    # py4j-chatty expressions); plans canonically identical
    bit_sums = tok.groupBy(id_col).agg(
        *[
            F.expr(f"sum((shiftright(h, {j}) & 1) * 2 - 1) AS s{j}")
            for j in range(SIMHASH_BITS)
        ]
    )
    bits = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN CAST({2**j} AS BIGINT) "
        "ELSE CAST(0 AS BIGINT) END)"
        for j in range(SIMHASH_BITS)
    )
    sig = bit_sums.select(
        F.col(id_col),
        F.expr(f"CAST(0 AS BIGINT) + {bits} AS simhash"),
    )
    return sig


def sql_simhash(table: str, id_col: str, text_col: str) -> str:
    h = T.sql_hash60("tok")
    sums = ", ".join(
        f"sum(((h >> {j}) & 1) * 2 - 1) AS s{j}" for j in range(SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN s{j} > 0 THEN {2**j}::BIGINT ELSE 0::BIGINT END)"
        for j in range(SIMHASH_BITS)
    )
    return f"""
WITH tok AS (
  SELECT DISTINCT {id_col}, unnest({T.sql_tokens(text_col)}) AS tok FROM {table}
),
hashed AS (SELECT {id_col}, {h} AS h FROM tok),
sums AS (SELECT {id_col}, {sums} FROM hashed GROUP BY {id_col})
SELECT {id_col}, {bits} AS simhash FROM sums
"""


def simhash_pairs(df: DataFrame, id_col: str, text_col: str, max_distance: int = 3) -> DataFrame:
    """Near-dup pairs by simhash Hamming distance via the all-pairs
    join. ORACLE MODE ONLY — O(N²); the scale path is
    :func:`simhash_neardup_pairs` (pigeonhole banding), which returns
    the identical result set."""
    sig = simhash(df, id_col, text_col)
    a, b = sig.alias("a"), sig.alias("b")
    return (
        a.join(b, on=F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            V.hamming(F.col("a.simhash"), F.col("b.simhash")).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def _simhash_blocks(max_distance: int, bits: int = SIMHASH_BITS) -> list[tuple[int, int]]:
    """(start_bit, width) for max_distance+1 blocks covering the
    signature. Pigeonhole: a pair within Hamming distance d differs in
    <= d blocks, so it agrees exactly on >= 1 of the d+1 blocks."""
    nblocks = max_distance + 1
    base, rem = divmod(bits, nblocks)
    out, start = [], 0
    for i in range(nblocks):
        w = base + (1 if i < rem else 0)
        out.append((start, w))
        start += w
    return out


def simhash_neardup_pairs(
    df: DataFrame, id_col: str, text_col: str, max_distance: int = 3
) -> DataFrame:
    """Scale path for simhash near-dup: pigeonhole-banded candidate
    generation + exact Hamming verify — returns EXACTLY the pairs the
    all-pairs scan would (recall 1.0 by construction, no LSH loss).

    Shape: explode each signature into d+1 (block_no, block_val) keys,
    self-join on block equality (shuffle keyed by block bucket, fan-out
    bounded by bucket size like the minhash LSH join), verify
    ``hamming <= d`` on the carried signatures. At 100 TB the join is
    bucket-bounded instead of O(N²); skewed blocks (e.g. the all-zeros
    byte) are AQE-splittable.

    Exactly-once emission: a pair agreeing on several blocks would be
    emitted once per agreeing block, so each emission is kept only when
    its block is the FIRST agreeing one — pure bit arithmetic on the two
    carried signatures, replacing a ``distinct()`` shuffle of the full
    pair relation (millions of rows on near-dup-heavy corpora) with a
    map-side filter."""
    sig = _stage(simhash(df, id_col, text_col))
    blocks = _simhash_blocks(max_distance)

    def _block(col: Column, start: int, w: int) -> Column:
        return F.shiftright(col, start).bitwiseAND(F.lit((1 << w) - 1))

    block_arr = F.array(*[_block(F.col("simhash"), s, w) for s, w in blocks])
    banded = sig.select(
        F.col(id_col), F.col("simhash"), F.posexplode(block_arr).alias("block", "bval")
    )
    a, b = banded.alias("a"), banded.alias("b")
    sa, sb = F.col("a.simhash"), F.col("b.simhash")
    # index (0-based) of the first block where the two signatures agree
    first_agree = (
        F.array_position(
            F.array(*[(_block(sa, s, w) == _block(sb, s, w)) for s, w in blocks]),
            F.lit(True),
        )
        - 1
    )
    return (
        a.join(
            b,
            on=(F.col("a.block") == F.col("b.block"))
            & (F.col("a.bval") == F.col("b.bval"))
            & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}")),
        )
        .filter(F.col("a.block") == first_agree)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            V.hamming(sa, sb).alias("distance"),
        )
        .filter(F.col("distance") <= max_distance)
    )


def sql_simhash_pairs(
    table: str, id_col: str, text_col: str, max_distance: int = 3
) -> str:
    """All-pairs DuckDB twin — the banded Spark plan must equal this."""
    sig = sql_simhash(table, id_col, text_col)
    ham = V.sql_hamming("a.simhash", "b.simhash")
    return f"""
WITH sig AS ({sig})
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {ham} AS distance
FROM sig a JOIN sig b ON a.{id_col} < b.{id_col}
WHERE {ham} <= {max_distance}
"""


# ---------------------------------------------------------------------------
# embedding cosine near-dup
# ---------------------------------------------------------------------------

def embedding_neardup_pairs(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    prefilter_bits: int | None = None,
) -> DataFrame:
    """(id_a < id_b, cosine) pairs with cosine >= threshold.

    prefilter_bits=None: exact all-pairs (quadratic — correctness/oracle
    mode). prefilter_bits=b: only pairs agreeing on a b-bit sign-band
    are scored (LSH mode; recall < 1, tested separately)."""
    base = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if prefilter_bits:
        base = base.withColumn(
            "_band", V.sign_bits("_v", n_bits=prefilter_bits)
        )
    a, b = base.alias("a"), base.alias("b")
    cond = F.col("a._id") < F.col("b._id")
    if prefilter_bits:
        cond = cond & (F.col("a._band") == F.col("b._band"))
    return (
        a.join(b, on=cond)
        .select(
            F.col("a._id").alias("id_a"),
            F.col("b._id").alias("id_b"),
            V.cosine(F.col("a._v"), F.col("b._v")).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


def sql_embedding_neardup_pairs(
    table: str, id_col: str, vec_col: str, threshold: float
) -> str:
    cos = V.sql_cosine(f"a.{vec_col}", f"b.{vec_col}")
    return f"""
SELECT a.{id_col} AS id_a, b.{id_col} AS id_b, {cos} AS cosine
FROM {table} a JOIN {table} b ON a.{id_col} < b.{id_col}
WHERE {cos} >= {threshold}
"""


# ---------------------------------------------------------------------------
# multi-band hyperplane LSH (the scale path for embedding near-dup)
# ---------------------------------------------------------------------------

#: default banding: 16 bands x 8 sign bits, OR semantics. For a
#: near-dup threshold of cosine 0.9 the per-bit agreement prob is
#: p = 1 - theta/pi ~ 0.857, so band-hit prob p^8 ~ 0.29 and recall
#: 1-(1-p^8)^16 ~ 0.996 — vs 0.29 for the single-band prefilter.
NEARDUP_BANDS = 16
NEARDUP_BAND_BITS = 8
NEARDUP_SEED = 7


def _hyperplanes(dim: int, bands: int, bits: int, seed: int) -> list[list[list[float]]]:
    """Seeded Gaussian hyperplanes, rounded to 6 decimals so the SQL
    literal and the Python float parse to the *identical* double in
    both engines (correctly-rounded decimal->binary both sides)."""
    import numpy as np

    rng = np.random.default_rng(seed)
    raw = rng.standard_normal((bands, bits, dim))
    return [
        [[float(f"{x:.6f}") for x in plane] for plane in band] for band in raw
    ]


def embedding_neardup_banded(
    embs: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.9,
    dim: int = 64,
    bands: int = NEARDUP_BANDS,
    bits: int = NEARDUP_BAND_BITS,
    seed: int = NEARDUP_SEED,
    kernel: bool = False,
    pairs: str = "all",
    star_cap: int = STAR_CAP,
) -> DataFrame:
    """(id_a < id_b, cosine >= threshold) pairs via multi-band
    hyperplane LSH: ``bands`` independent signatures of ``bits`` sign
    bits each, OR'd — a pair is a candidate if ANY band matches — then
    exact cosine verify on candidates only.

    Same 100 TB shape as the minhash LSH join: explode to (band, bval)
    keys, self-join shuffles on the band bucket (fan-out bounded by
    bucket size, never O(N²)); the hyperplanes are baked literals so
    the whole plan is deterministic and ANSI-expressible (the oracle
    twin applies the identical prune). All sign/dot arithmetic is
    in-order double accumulation -> bit-identical across engines.

    Parameter guidance (``bits`` controls bucket selectivity, ``bands``
    recall): buckets per band = 2^bits, so size ``bits`` >= log2(N) to
    keep bucket fan-out O(1) — e.g. b=32 x r=16 for 1M vectors at
    threshold 0.9 (recall ~0.998). ``kernel=True`` switches signature
    computation to an Arrow-batched matmul for large bands*bits (the
    Catalyst fold is the certified-bit-exact oracle path).

    ``pairs`` (the mega-cluster guard, see :func:`lsh_candidate_pairs`):
    an embedding corpus with 10^5 exact-duplicate vectors (re-crawled
    pages, default embeddings for empty docs) puts them all in one
    bucket in EVERY band, and all-pairs expansion is C(m, 2) there.
    BUT this operator verifies candidates (cosine >= threshold), and
    after a verify filter pure ``"star"`` is NOT lossless: when the
    bucket-min hub is a dissimilar LSH collider, its hub-member edges
    all fail the verify and a genuinely-similar pair elsewhere in the
    bucket is never scored (pinned by
    test_embedding_hybrid_survives_dissimilar_hub). So:

    - ``"all"``: exact, quadratic per bucket — the oracle semantics.
    - ``"hybrid"`` (the recommended scale mode): all-pairs for buckets
      of at most ``star_cap`` members — exact wherever colliders can
      dominate — and star edges only above the cap, the diagnosed
      mega-bucket regime where members are near-identical and any hub
      is representative.
    - ``"star"``: pure hub-member edges; linear, but only safe when
      bucket members are known mutually-above-threshold (the
      exact-duplicate case)."""
    planes = _hyperplanes(dim, bands, bits, seed)
    base = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
    if kernel:
        from gamma_spark.session import ensure_parallelism

        sigs = _banded_signatures_kernel(
            ensure_parallelism(base, fanout=8.0), planes, bands, bits
        )
        banded = sigs.select("_id", F.posexplode("_bvals").alias("band", "bval"))
    else:
        band_vals = []
        for band in planes:
            val = F.lit(0).cast("long")
            for plane in band:
                d = V.dot("_v", F.array(*[F.lit(x) for x in plane]))
                val = val * F.lit(2).cast("long") + F.when(d > 0, F.lit(1)).otherwise(
                    F.lit(0)
                ).cast("long")
            band_vals.append(val)
        banded = base.select(
            "_id", F.posexplode(F.array(*band_vals)).alias("band", "bval")
        )
    # NOT staged, deliberately: unlike the minhash/simhash signature
    # aggregates (shuffle-produced, one row per doc, reused), this
    # relation is a map-only N*bands expansion. Recomputing it per join
    # side costs one extra embarrassingly-parallel BLAS/codegen pass;
    # persisting it costs 48N rows of storage memory that the bucket
    # join's shuffle needs, and hides size stats from AQE on the first
    # run. Stage shuffled aggregates, not map-only expansions.
    # Late materialization: the band self-join and the candidate dedupe
    # move only (id, band, bval) rows — never the vectors (at dim=512
    # carrying vectors through both shuffles is ~60x the bytes). A pair
    # matching in m bands is also deduped BEFORE the verify so the
    # cosine is paid once. Vectors re-enter via two id-keyed joins
    # against the base relation, sized by the candidate count.
    cands = _bucket_edges(
        banded.select("_id", "band", "bval"), ["band", "bval"], "_id",
        pairs, star_cap,
    ).dropDuplicates(["id_a", "id_b"])
    withvecs = cands.join(
        base.select(F.col("_id").alias("id_a"), F.col("_v").alias("_va")), "id_a"
    ).join(
        base.select(F.col("_id").alias("id_b"), F.col("_v").alias("_vb")), "id_b"
    )
    if kernel:
        scored = _cosine_verify_kernel(withvecs)
    else:
        scored = withvecs.select(
            "id_a", "id_b", V.cosine("_va", "_vb").alias("cosine")
        )
    return scored.filter(F.col("cosine") >= threshold)


def _banded_signatures_kernel(
    base: DataFrame, planes, bands: int, bits: int
) -> DataFrame:
    """Arrow-batched band signatures via one numpy matmul per batch —
    the throughput path when bands*bits is large (512 hyperplanes at
    b=32 x r=16 would be an oversized Catalyst expression tree).

    Signs from BLAS dots can differ from the in-order fold ONLY on
    exact-zero ties (measure-zero; asserted equal on test data), so this
    path matches the Catalyst/oracle path in practice but is not
    certified bit-exact — same contract as the knn BLAS kernel."""
    import numpy as np
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    H = np.asarray(planes, dtype=np.float64).reshape(bands * bits, -1)
    weights = (1 << np.arange(bits - 1, -1, -1, dtype=np.int64))
    out_schema = StructType(
        [
            base.schema["_id"],
            base.schema["_v"],
            StructField("_bvals", ArrayType(LongType())),
        ]
    )

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            M = np.stack(pdf["_v"].to_numpy())
            S = (M.astype(np.float64) @ H.T) > 0  # (n, bands*bits)
            vals = (
                S.reshape(len(pdf), bands, bits).astype(np.int64) * weights
            ).sum(axis=2)
            yield pd.DataFrame(
                {"_id": pdf["_id"], "_v": pdf["_v"], "_bvals": list(vals)}
            )

    return base.mapInPandas(kernel, schema=out_schema)


def _cosine_verify_kernel(pairs: DataFrame) -> DataFrame:
    """Arrow-batched exact-cosine verify over a candidate-pair relation
    (one einsum per batch). BLAS sum order differs from the in-order
    fold only in the last ulps — fine for the scale path, not for the
    oracle path (same contract as the knn BLAS kernel)."""
    import numpy as np
    from pyspark.sql.types import DoubleType, StructField, StructType

    out_schema = StructType(
        [
            StructField("id_a", pairs.schema["id_a"].dataType),
            StructField("id_b", pairs.schema["id_b"].dataType),
            StructField("cosine", DoubleType()),
        ]
    )

    def kern(batches):
        import pandas as pd

        for pdf in batches:
            if pdf.empty:
                continue
            A = np.stack(pdf["_va"].to_numpy()).astype(np.float64)
            B = np.stack(pdf["_vb"].to_numpy()).astype(np.float64)
            num = np.einsum("ij,ij->i", A, B)
            den = np.linalg.norm(A, axis=1) * np.linalg.norm(B, axis=1)
            with np.errstate(divide="ignore", invalid="ignore"):
                cos = np.where(den > 0, num / den, 0.0)
            yield pd.DataFrame(
                {"id_a": pdf["id_a"], "id_b": pdf["id_b"], "cosine": cos}
            )

    return pairs.mapInPandas(kern, schema=out_schema)


def sql_embedding_neardup_banded(
    table: str,
    id_col: str,
    vec_col: str,
    threshold: float,
    dim: int = 64,
    bands: int = NEARDUP_BANDS,
    bits: int = NEARDUP_BAND_BITS,
    seed: int = NEARDUP_SEED,
    pairs: str = "all",
    star_cap: int = STAR_CAP,
) -> str:
    """DuckDB twin applying the identical multi-band prune (same baked
    hyperplanes, same fold) then the same cosine verify. ``pairs`` /
    ``star_cap`` mirror :func:`embedding_neardup_banded`. Candidate
    generation carries only (id, band, bval); vectors re-enter from a
    single base-table join (the Spark path's late materialization —
    hashing exploded DOUBLE[] lists through the banded CTE would cost
    bands× the rows for the same relation)."""
    planes = _hyperplanes(dim, bands, bits, seed)
    selects = []
    for i, band in enumerate(planes):
        val = "0::BIGINT"
        for plane in band:
            lit = "[" + ", ".join(f"{x:.6f}" for x in plane) + "]::DOUBLE[]"
            d = f"list_dot_product(({vec_col})::DOUBLE[], {lit})"
            val = f"(({val}) * 2 + (CASE WHEN {d} > 0 THEN 1 ELSE 0 END))"
        selects.append(
            f"SELECT {id_col} AS _id, {i} AS band, {val} AS bval FROM {table}"
        )
    banded = " UNION ALL ".join(selects)
    hubs = (
        "SELECT band, bval, min(_id) AS hub, count(DISTINCT _id) AS cnt "
        "FROM banded GROUP BY band, bval"
    )
    allpairs_cand = """SELECT DISTINCT a._id AS id_a, b._id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a._id < b._id"""
    star_cand = """SELECT DISTINCT h.hub AS id_a, m._id AS id_b
  FROM banded m
  JOIN hubs h ON m.band = h.band AND m.bval = h.bval AND m._id <> h.hub"""
    if pairs == "all":
        ctes, cand = f"banded AS ({banded})", allpairs_cand
    elif pairs == "star":
        ctes, cand = f"banded AS ({banded}), hubs AS ({hubs})", star_cand
    elif pairs == "hybrid":
        ctes = f"banded AS ({banded}), hubs AS ({hubs})"
        cand = f"""SELECT DISTINCT a._id AS id_a, b._id AS id_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bval = b.bval AND a._id < b._id
  JOIN hubs h ON h.band = a.band AND h.bval = a.bval
  WHERE h.cnt <= {star_cap}
  UNION
  SELECT h.hub AS id_a, m._id AS id_b
  FROM banded m
  JOIN hubs h ON m.band = h.band AND m.bval = h.bval AND m._id <> h.hub
  WHERE h.cnt > {star_cap}"""
    else:
        raise ValueError(f"pairs={pairs!r}: expected 'all', 'star' or 'hybrid'")
    cos = V.sql_cosine(f"ta.{vec_col}", f"tb.{vec_col}")
    return f"""
WITH {ctes}
SELECT DISTINCT c.id_a, c.id_b, {cos} AS cosine
FROM ({cand}) c
JOIN {table} ta ON ta.{id_col} = c.id_a
JOIN {table} tb ON tb.{id_col} = c.id_b
WHERE {cos} >= {threshold}
"""


# ---------------------------------------------------------------------------
# eval-set decontamination
# ---------------------------------------------------------------------------

def decontaminate(
    train: DataFrame,
    eval_df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
) -> DataFrame:
    """Benchmark decontamination (GPT-3 appendix C / Dolma): flag every
    training document that shares at least one word ``n``-gram with any
    document in the (much smaller) eval set. Returns
    (id, n_contaminated) — the count of *distinct* training-doc
    shingles that also occur somewhere in the eval set; clean docs are
    absent.

    Scale shape: the eval side collapses to a DISTINCT shingle set and
    is broadcast; the training side is the usual shingle explode
    (:func:`shingles` — the same relation the MinHash/Jaccard family
    mines, so at 100 TB the explode is shared, not repeated). The only
    shuffle is the per-doc count aggregation, bounded by the matched
    shingles. No driver collect, no Python in the hot path.
    """
    # the raw (non-distinct) train stream stays map-only into the
    # broadcast join; the (doc, shingle) dedup then shuffles only the
    # MATCHED rows instead of every corpus shingle (~50x fewer at the
    # 1M rehearsal) — same result, one corpus-sized shuffle removed
    tr = shingles(train, id_col, text_col, n, distinct=False)
    ev = shingles(eval_df, id_col, text_col, n).select("shingle").distinct()
    return (
        tr.join(F.broadcast(ev), "shingle")
        .dropDuplicates([id_col, "shingle"])
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )


def sql_decontaminate(
    train_sql: str,
    eval_sql: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 6,
) -> str:
    """DuckDB twin of :func:`decontaminate` over two table expressions."""
    tr = sql_shingles(f"({train_sql})", id_col, text_col, n)
    ev = sql_shingles(f"({eval_sql})", id_col, text_col, n)
    return f"""
WITH tr AS ({tr}), ev AS (SELECT DISTINCT shingle FROM ({ev}) e)
SELECT {id_col}, count(*) AS n_contaminated
FROM tr JOIN ev USING (shingle)
GROUP BY {id_col}
"""


# ---------------------------------------------------------------------------
# incremental near-dup index (the build/search split for dedup)
# ---------------------------------------------------------------------------

class MinHashIndex:
    """Materialized MinHash-LSH bucket index for INCREMENTAL dedup:
    check each new crawl batch against the standing corpus without
    recomputing the corpus side — the build/search split the engine's
    other models use (`Bm25Index`, `IvfFlatIndex`), applied to near-dup
    detection.

    Stored relation: ``(id, band, bsig)`` — N_BANDS rows per doc, the
    corpus-sized shingle/signature work paid ONCE at build. ``match``
    shuffles only the new batch's bands against the bucket relation
    (join keyed on (band, bsig), fan-out bounded by bucket size);
    ``append`` adds the batch's bands so the next batch also dedups
    against this one. Candidates verify with exact Jaccard via
    :func:`jaccard_on_pairs`, same as the batch pipeline.
    """

    def __init__(self, banded: DataFrame, id_col: str = "doc_id",
                 n: int = 3, path: str | None = None):
        self.banded = banded
        self.id_col = id_col
        self.n = n
        self.path = path

    # -- construction -------------------------------------------------------

    @classmethod
    def build(cls, df: DataFrame, id_col: str = "doc_id",
              text_col: str = "text", n: int = 3,
              path: str | None = None) -> "MinHashIndex":
        sig = minhash_signatures(
            hashed_shingle_stream(df, id_col, text_col, n), id_col, hashed=True
        )
        banded = banded_signatures(sig, id_col)
        if path is not None:
            banded.write.mode("overwrite").parquet(path)
            banded = _read_tree(df.sparkSession, path)
            # meta sidecar: the shingle width is BAKED into the stored
            # signatures — a load() probing with a different n would
            # band new batches against incompatible buckets and match()
            # would silently return (almost) nothing. Underscore-
            # prefixed: root-level files here ARE the relation, and
            # Spark's lister skips `_`/`.` names (same rule as the
            # dot-prefixed writer lock).
            import os as _os

            from gamma_spark.io_util import atomic_write_json

            atomic_write_json(
                _os.path.join(path, "_meta.json"),
                {"id_col": id_col, "n": int(n)},
            )
        return cls(banded, id_col, n, path)

    @classmethod
    def load(cls, spark, path: str, id_col: str = "doc_id",
             n: int = 3) -> "MinHashIndex":
        """``id_col``/``n`` are legacy fallbacks for indexes persisted
        before the meta sidecar; when ``_meta.json`` exists its values
        win (they describe the on-disk signatures)."""
        import os as _os

        from gamma_spark.io_util import read_json_or_none

        meta = read_json_or_none(_os.path.join(path, "_meta.json"))
        if meta is not None:
            id_col = meta.get("id_col", id_col)
            n = int(meta.get("n", n))
        return cls(_read_tree(spark, path), id_col, n, path)

    # -- serving ------------------------------------------------------------

    def _bands_of(self, new_df: DataFrame, text_col: str) -> DataFrame:
        sig = minhash_signatures(
            hashed_shingle_stream(new_df, self.id_col, text_col, self.n),
            self.id_col,
            hashed=True,
        )
        return banded_signatures(sig, self.id_col)

    def match(
        self, new_df: DataFrame, text_col: str = "text",
        witness_only: bool = False,
    ) -> DataFrame:
        """Distinct candidate pairs (new_id, corpus_id) sharing an LSH
        bucket with the indexed corpus. Self-pairs (a doc already in
        the index matching itself) are excluded by id inequality.

        ``witness_only=True`` is the mega-cluster guard for this
        bipartite shape (see :func:`lsh_candidate_pairs`): a standing
        boilerplate cluster of m = 10^5 docs makes every new clone
        match all m members — k×m shuffle rows per batch for an answer
        ("is it a dup, and of what group?") that needs ONE witness.
        The min() witness aggregate is map-side combinable, so the
        shuffle carries k rows however large the standing cluster is;
        the returned (new_id, min corpus_id) pair is the group hub the
        CC/keeper consumer would pick anyway."""
        nb = self._bands_of(new_df, text_col).select(
            F.col(self.id_col).alias("new_id"), "band", "bsig"
        )
        joined = nb.join(
            self.banded.select(
                F.col(self.id_col).alias("corpus_id"), "band", "bsig"
            ),
            on=["band", "bsig"],
        ).filter(F.col("new_id") != F.col("corpus_id"))
        if witness_only:
            return joined.groupBy("new_id").agg(
                F.min("corpus_id").alias("corpus_id")
            )
        return joined.select("new_id", "corpus_id").distinct()

    def append(self, new_df: DataFrame, text_col: str = "text",
               batch_id: int | str | None = None) -> "MinHashIndex":
        """Add the batch's buckets to the index. With a ``path`` this is
        a parquet append (micro-batch friendly — the T2 pattern);
        memory-only indexes get a union.

        ``batch_id`` makes the append IDEMPOTENT (the foreachBatch
        exactly-once recipe): the batch writes to a deterministic
        ``batch-<id>`` subdirectory with overwrite semantics, so a
        micro-batch retry replaces its own earlier (possibly partial)
        write instead of duplicating rows. Without it, a retry after a
        committed append duplicates (id, band, bsig) rows — harmless
        for candidate *generation* (match() distincts) but wasteful;
        streaming callers should always pass the micro-batch id."""
        nb = self._bands_of(new_df, text_col)
        if self.path is not None:
            if batch_id is not None:
                # per-batch private subdir: idempotent AND naturally
                # isolated from concurrent appenders, no lock needed
                nb.write.mode("overwrite").parquet(f"{self.path}/batch-{batch_id}")
            else:
                from gamma_spark.io_util import writer_lock

                # bare append-mode shares Spark's non-transactional
                # _temporary dirs across writers — same single-writer
                # guard as EmbeddingNearDupIndex.append. Dot-prefixed
                # lock name: root-level files here ARE the relation,
                # and Spark's lister only skips `.`/`_` prefixes
                with writer_lock(self.path, name=".writer.lock"):
                    nb.write.mode("append").parquet(self.path)
            banded = _read_tree(new_df.sparkSession, self.path)
        else:
            banded = self.banded.unionByName(nb)
        return MinHashIndex(banded, self.id_col, self.n, self.path)

    def compact(self, spark, partitions: int = 32) -> "MinHashIndex":
        """T3 for the bucket relation: collapse per-micro-batch append
        files into ``partitions`` files (content unchanged)."""
        if self.path is None:
            return self
        _compact_parquet(spark, self.path, partitions)
        return MinHashIndex(
            _read_tree(spark, self.path), self.id_col, self.n, self.path
        )


class EmbeddingNearDupIndex:
    """Semantic twin of :class:`MinHashIndex`: a materialized
    hyperplane-LSH bucket index over an embedding corpus for
    INCREMENTAL semantic dedup. Stores two relations — (id, band, bval)
    bucket keys and (id, vector) for the verify stage — so matching a
    new batch costs one band join (bucket-bounded fan-out) plus exact
    cosine on the candidates, with NO corpus-side recompute.

    Unlike MinHashIndex (whose verify stage re-shingles text),
    ``match`` here returns exact-cosine-VERIFIED pairs: the vectors
    needed for verification are part of the index.
    """

    def __init__(self, banded: DataFrame, vectors: DataFrame,
                 planes, id_col: str = "vec_id", vec_col: str = "embedding",
                 threshold: float = 0.9, path: str | None = None,
                 meta: dict | None = None):
        self.banded = banded      # (_id, band, bval)
        self.vectors = vectors    # (_id, _v)
        self.planes = planes
        self.id_col = id_col
        self.vec_col = vec_col
        self.threshold = threshold
        self.path = path
        self.meta = meta or {}

    # -- construction -------------------------------------------------------

    @classmethod
    def build(cls, embs: DataFrame, id_col: str = "vec_id",
              vec_col: str = "embedding", dim: int = 64,
              bands: int = NEARDUP_BANDS, bits: int = NEARDUP_BAND_BITS,
              seed: int = NEARDUP_SEED, threshold: float = 0.9,
              path: str | None = None) -> "EmbeddingNearDupIndex":
        planes = _hyperplanes(dim, bands, bits, seed)
        meta = {"dim": dim, "bands": bands, "bits": bits, "seed": seed,
                "threshold": threshold}
        base = embs.select(F.col(id_col).alias("_id"), F.col(vec_col).alias("_v"))
        banded = cls._bands_from(base, planes, bands, bits)
        if path is not None:
            import json as _json
            import os as _os

            from gamma_spark.io_util import atomic_write_json

            banded.write.mode("overwrite").parquet(f"{path}/bands")
            base.write.mode("overwrite").parquet(f"{path}/vectors")
            atomic_write_json(_os.path.join(path, "meta.json"), meta)
            spark = embs.sparkSession
            banded = _read_tree(spark, f"{path}/bands")
            base = _read_tree(spark, f"{path}/vectors")
        return cls(banded, base, planes, id_col, vec_col, threshold, path, meta)

    @classmethod
    def load(cls, spark, path: str, id_col: str = "vec_id",
             vec_col: str = "embedding") -> "EmbeddingNearDupIndex":
        import json as _json
        import os as _os

        with open(_os.path.join(path, "meta.json")) as fh:
            meta = _json.load(fh)
        planes = _hyperplanes(meta["dim"], meta["bands"], meta["bits"], meta["seed"])
        return cls(
            _read_tree(spark, f"{path}/bands"),
            _read_tree(spark, f"{path}/vectors"),
            planes, id_col, vec_col, meta["threshold"], path, meta,
        )

    # -- serving ------------------------------------------------------------

    @staticmethod
    def _bands_from(base: DataFrame, planes, bands: int, bits: int) -> DataFrame:
        from gamma_spark.session import ensure_parallelism

        sigs = _banded_signatures_kernel(
            ensure_parallelism(base, fanout=8.0), planes, bands, bits
        )
        return sigs.select("_id", F.posexplode("_bvals").alias("band", "bval"))

    def match(self, new_embs: DataFrame,
              threshold: float | None = None) -> DataFrame:
        """Exact-cosine-verified near-dup pairs (new_id, corpus_id,
        cosine >= threshold): band join against the stored buckets →
        candidate dedupe → vectors re-enter via id-keyed joins (late
        materialization, like the batch operator)."""
        t = self.threshold if threshold is None else threshold
        meta = self.meta
        nbase = new_embs.select(
            F.col(self.id_col).alias("_id"), F.col(self.vec_col).alias("_v")
        )
        nb = self._bands_from(nbase, self.planes, meta["bands"], meta["bits"])
        cands = (
            nb.select(F.col("_id").alias("new_id"), "band", "bval")
            .join(
                self.banded.select(
                    F.col("_id").alias("corpus_id"), "band", "bval"
                ),
                on=["band", "bval"],
            )
            .filter(F.col("new_id") != F.col("corpus_id"))
            .select("new_id", "corpus_id")
            .dropDuplicates(["new_id", "corpus_id"])
        )
        pairs = cands.join(
            nbase.select(F.col("_id").alias("new_id"), F.col("_v").alias("_va")),
            "new_id",
        ).join(
            self.vectors.select(
                F.col("_id").alias("corpus_id"), F.col("_v").alias("_vb")
            ),
            "corpus_id",
        )
        scored = _cosine_verify_kernel(
            pairs.withColumnsRenamed({"new_id": "id_a", "corpus_id": "id_b"})
        ).withColumnsRenamed({"id_a": "new_id", "id_b": "corpus_id"})
        return scored.filter(F.col("cosine") >= t)

    def append(self, new_embs: DataFrame,
               batch_id: int | str | None = None) -> "EmbeddingNearDupIndex":
        """``batch_id`` makes the append IDEMPOTENT (deterministic
        ``batch-<id>`` subdir, overwrite semantics): a retried
        micro-batch replaces its own earlier write instead of
        duplicating vector rows — without it, a retry after a committed
        append yields duplicate rows from ``match()``."""
        nbase = new_embs.select(
            F.col(self.id_col).alias("_id"), F.col(self.vec_col).alias("_v")
        )
        nb = self._bands_from(nbase, self.planes, self.meta["bands"], self.meta["bits"])
        if self.path is not None:
            from gamma_spark.io_util import writer_lock

            # self-enforced single-writer: concurrent appenders racing
            # the two-relation write (and Spark's non-transactional
            # append-mode temporary dirs) fail fast instead of
            # interleaving (io_util.writer_lock)
            with writer_lock(self.path):
                # vectors FIRST: a crash between the two appends then
                # leaves a doc with a vector but no bands (simply not
                # yet indexed — re-append heals), never bands whose
                # candidates silently fail the verify join
                if batch_id is not None:
                    nbase.write.mode("overwrite").parquet(
                        f"{self.path}/vectors/batch-{batch_id}"
                    )
                    nb.write.mode("overwrite").parquet(
                        f"{self.path}/bands/batch-{batch_id}"
                    )
                else:
                    nbase.write.mode("append").parquet(f"{self.path}/vectors")
                    nb.write.mode("append").parquet(f"{self.path}/bands")
            spark = new_embs.sparkSession
            banded = _read_tree(spark, f"{self.path}/bands")
            vectors = _read_tree(spark, f"{self.path}/vectors")
        else:
            banded = self.banded.unionByName(nb)
            vectors = self.vectors.unionByName(nbase)
        return EmbeddingNearDupIndex(
            banded, vectors, self.planes, self.id_col, self.vec_col,
            self.threshold, self.path, self.meta,
        )

    def compact(self, spark, partitions: int = 32) -> "EmbeddingNearDupIndex":
        """T3 for both stored relations (bands + vectors)."""
        if self.path is None:
            return self
        _compact_parquet(spark, f"{self.path}/bands", partitions)
        _compact_parquet(spark, f"{self.path}/vectors", partitions)
        return EmbeddingNearDupIndex(
            _read_tree(spark, f"{self.path}/bands"),
            _read_tree(spark, f"{self.path}/vectors"),
            self.planes, self.id_col, self.vec_col,
            self.threshold, self.path, self.meta,
        )


def _compact_parquet(spark, path: str, partitions: int = 32) -> None:
    """Rewrite a parquet dir into ``partitions`` files (append sinks
    accumulate one file per micro-batch — the T3 compaction story
    applied to index relations). Staged rewrite, then a rename-aside
    swap: the live dir is moved to ``<path>.old`` BEFORE the compacted
    dir takes its place, and restored if that second rename fails — at
    no point is the data reachable only from the staging dir (the r4
    rmtree-then-rename window). Single-writer contract: compaction is a
    maintenance job; concurrent readers holding the old file listing
    should re-open afterwards.

    NOTE: the swap uses driver-local ``os.rename``/``shutil`` — this
    helper (alone among the index paths, which all go through Spark
    I/O) requires ``path`` on a filesystem the driver can rename on
    (local disk, NFS, FUSE mounts). On object stores, compact into a
    fresh generation directory and repoint the caller instead."""
    import os
    import shutil

    df = _read_tree(spark, path).coalesce(partitions)
    tmp = path + ".compact"
    df.write.mode("overwrite").parquet(tmp)
    old_dir = path + ".old"
    shutil.rmtree(old_dir, ignore_errors=True)
    os.rename(path, old_dir)
    try:
        os.rename(tmp, path)
    except OSError:
        os.rename(old_dir, path)  # restore the live dir
        raise
    shutil.rmtree(old_dir, ignore_errors=True)
