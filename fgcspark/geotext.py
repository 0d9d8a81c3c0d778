"""Geo x webtext fusion analytics: what is WRITTEN differently WHERE.

The reference pipeline ends at geometry (occurrences onto GIS layers,
R/convert.R); the graft's pages carry full extracted text, so the
natural next operator family scores the text conditioned on the
spatial cell — the corpus-inspection step a web-scale geo engine needs
for regional vocabulary drift, toponym mining, and geo-stratified
training-data curation.

All operators are pure DataFrame plans (explode + hash aggregates +
broadcast-sized dimension joins + WindowGroupLimit ranking); nothing
touches Python row-at-a-time.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F


def cell_distinctive_terms(
    df: DataFrame,
    k: int = 5,
    cell_col: str = "cell_50km",
    text_col: str = "text",
    round_to: int = 6,
) -> DataFrame:
    """Top-k TF-IDF-distinctive terms per grid cell.

    tf(cell, term) is the raw term count inside the cell; idf(term) is
    ln((N_cells + 1) / (cells_containing_term + 1)) — the standard
    smoothed inverse *cell* frequency, so a term used everywhere scores
    ~0 and a term concentrated in one cell scores ~tf * ln(N). Returns
    (cell, term, tf, score, rank) with deterministic (score desc, term
    asc) ranking; scores are rounded to `round_to` decimals BEFORE
    ranking so the JVM's and the oracle's libm ulp cannot flip either
    the hash or the order.

    Scale shape (100 TB): the explode feeds ONE corpus-sized shuffle —
    the map-side-combined (cell, term) count — and that aggregated
    table (vocabulary x cells, not volume) is materialized once with an
    eager localCheckpoint before fan-out: it has three consumers (the
    idf join's left side, the per-term cell-frequency agg, and the
    1-row N_cells agg), and Catalyst's column pruning specializes each
    branch (e.g. drops the count from the cell-frequency subtree) so
    the subplans never canonicalize equal and ReuseExchange cannot
    dedup them — without the checkpoint the CORPUS would be scanned
    once per consumer (measured: 3 scans). The dedup_clusters /
    knn-driver-probe precedent for a build-time job. Downstream,
    cell-frequency is a hash agg of the checkpointed table keyed by
    term; N_cells is a 1-row aggregate cross-joined back (broadcast by
    construction, the PageRank dangling-mass idiom); the idf join is
    term-keyed over vocabulary-sized inputs, AQE-broadcast when the
    vocab fits. The rank filter plans as WindowGroupLimit, so per-task
    top-k heaps run before the final exchange and the last shuffle
    carries O(cells x k x tasks) rows.
    """
    toks = df.select(
        F.col(cell_col).alias("cell"),
        F.explode(F.split(F.col(text_col), " ")).alias("term"),
    ).where(F.col("term") != "")
    tf = toks.groupBy("cell", "term").agg(F.count(F.lit(1)).alias("tf"))
    # one corpus pass: materialize vocab x cells before the 3-way fan-out
    tf = tf.localCheckpoint(eager=True)
    cf = tf.groupBy("term").agg(F.count(F.lit(1)).alias("__cf"))
    nc = tf.agg(F.countDistinct("cell").alias("__nc"))
    scored = (
        tf.join(cf, "term")
        .crossJoin(F.broadcast(nc))
        .select(
            "cell",
            "term",
            "tf",
            F.round(
                F.col("tf")
                * F.log(
                    (F.col("__nc") + F.lit(1.0)) / (F.col("__cf") + F.lit(1.0))
                ),
                round_to,
            ).alias("score"),
        )
    )
    w = Window.partitionBy("cell").orderBy(F.desc("score"), F.asc("term"))
    return scored.withColumn("rank", F.row_number().over(w)).where(F.col("rank") <= k)


def cell_distinctive_terms_oracle_sql(
    table_expr: str,
    k: int = 5,
    cell_col: str = "cell_50km",
    text_col: str = "text",
) -> str:
    """ANSI/DuckDB twin of cell_distinctive_terms (same smoothing, same
    6-decimal round-before-rank contract). Owned here so the contract
    oracle and the at-scale validator share one formulation; tf is
    multi-referenced, hence AS MATERIALIZED (DuckDB inlines plain CTEs
    per reference)."""
    return f"""
        WITH toks AS (
            SELECT {cell_col} AS cell, unnest(string_split({text_col}, ' ')) AS term
            FROM {table_expr}
        ),
        tf AS MATERIALIZED (
            SELECT cell, term, count(*) AS tf FROM toks
            WHERE term <> '' GROUP BY 1, 2
        ),
        cf AS (SELECT term, count(*) AS __cf FROM tf GROUP BY 1),
        nc AS (SELECT count(DISTINCT cell) AS __nc FROM tf),
        ranked AS (
            SELECT cell, term, tf,
                   round(tf * ln((__nc + 1.0) / (__cf + 1.0)), 6) AS score,
                   CAST(row_number() OVER (
                       PARTITION BY cell
                       ORDER BY round(tf * ln((__nc + 1.0) / (__cf + 1.0)), 6) DESC,
                                term ASC
                   ) AS INT) AS rank
            FROM tf JOIN cf USING (term) CROSS JOIN nc
        )
        SELECT cell, term, tf, score, rank FROM ranked WHERE rank <= {k}
    """


def entity_mentions(
    df: DataFrame,
    pattern: str = r"species_\d+",
    text_col: str = "text",
    keep_cols: tuple = ("url", "e", "n", "cell_50km"),
) -> DataFrame:
    """Explode regex entity mentions out of page text — the geoparsing
    primitive (one row per (page, mention), page geo columns carried
    along). Pure codegen: regexp_extract_all + explode, no Python."""
    return df.select(
        *[F.col(c) for c in keep_cols],
        F.explode(
            F.regexp_extract_all(F.col(text_col), F.lit(pattern), F.lit(0))
        ).alias("entity"),
    )


def entity_range(
    df: DataFrame,
    pattern: str = r"species_\d+",
    text_col: str = "text",
    cell_col: str = "cell_50km",
) -> DataFrame:
    """Range map of each text-mentioned entity: how many mentions it
    has, over how many grid cells, and its metric bounding box — the
    'species distribution from the web' query (mirrors the reference's
    occurrence-to-grid rollup, R/convert.R, but sourced from free text
    instead of structured occurrence rows).

    Only order-independent aggregates (count / count distinct /
    min / max), so there is no floating-point summation surface; the
    bbox edges are rounded to millimeters because the engine's
    projected e/n and an independent oracle's can differ at the
    O(1e-9 m) transcendental-ulp level (libm vs another runtime's
    sin/cos/atanh), and 1e-9 cannot cross a 1e-3 rounding boundary.

    Scale shape: explode + ONE map-side-combined shuffle keyed by
    entity; count(distinct cell) goes through Spark's two-phase expand
    (partial distinct per task), bboxes are min/max partials. Entity
    key space is vocabulary-sized, not corpus-sized."""
    m = entity_mentions(df, pattern, text_col, ("url", "e", "n", cell_col))
    return m.groupBy("entity").agg(
        F.count(F.lit(1)).alias("n_mentions"),
        F.countDistinct(cell_col).alias("n_cells"),
        F.round(F.min("e"), 3).alias("min_e"),
        F.round(F.max("e"), 3).alias("max_e"),
        F.round(F.min("n"), 3).alias("min_n"),
        F.round(F.max("n"), 3).alias("max_n"),
    )


def entity_cooccurrence(
    df: DataFrame,
    pattern: str = r"species_\d+",
    text_col: str = "text",
    cell_col: str = "cell_50km",
    fanout_cap: int = 256,
) -> DataFrame:
    """Spatial co-occurrence matrix: for each unordered entity pair,
    the number of 50 km cells where BOTH are mentioned (range-overlap
    strength). Returns (entity_a, entity_b, n_shared_cells) with
    entity_a < entity_b.

    Scale shape: reduce to the distinct (entity, cell) presence table
    FIRST (vocabulary x cells, not corpus), then self-join on cell —
    the fan-out per cell is (entities-in-cell choose 2), and the final
    pair agg is map-side combined.

    One hot cell with 10^4 distinct entities would put 10^8 pairs in a
    single task of the plain self-join, so the pair generation is
    SALTED above `fanout_cap` entities per cell: each hot cell's
    entities are hashed into S = ceil(k / fanout_cap) buckets, the two
    join sides replicate S ways on complementary key components
    ((cell, bucket_a, j) vs (cell, i, bucket_b)), and every unordered
    pair meets in exactly one of the S^2 key groups — ~fanout_cap^2
    pairs per task, never k^2. Cells at or under the cap skip the
    replication entirely, so the common case pays nothing. Result is
    identical either way (same pairs, met once)."""
    m = entity_mentions(df, pattern, text_col, (cell_col,))
    pres = m.select("entity", F.col(cell_col).alias("cell")).distinct()
    cnt = pres.groupBy("cell").agg(F.count(F.lit(1)).alias("_k"))
    pres = pres.join(cnt, "cell")
    cold = pres.where(F.col("_k") <= fanout_cap).drop("_k")
    a = cold.alias("a")
    b = cold.alias("b")
    cold_pairs = a.join(
        b,
        (F.col("a.cell") == F.col("b.cell")) & (F.col("a.entity") < F.col("b.entity")),
    ).select(
        F.col("a.entity").alias("entity_a"), F.col("b.entity").alias("entity_b")
    )
    hot = (
        pres.where(F.col("_k") > fanout_cap)
        .withColumn("_s", F.ceil(F.col("_k") / F.lit(fanout_cap)).cast("int"))
        .withColumn("_b", F.pmod(F.xxhash64("entity"), F.col("_s")).cast("int"))
    )
    ha = hot.withColumn(
        "_j", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    ).alias("ha")
    hb = hot.withColumn(
        "_i", F.explode(F.sequence(F.lit(0), F.col("_s") - 1))
    ).alias("hb")
    hot_pairs = ha.join(
        hb,
        (F.col("ha.cell") == F.col("hb.cell"))
        & (F.col("ha._b") == F.col("hb._i"))
        & (F.col("ha._j") == F.col("hb._b"))
        & (F.col("ha.entity") < F.col("hb.entity")),
    ).select(
        F.col("ha.entity").alias("entity_a"), F.col("hb.entity").alias("entity_b")
    )
    return (
        cold_pairs.unionByName(hot_pairs)
        .groupBy("entity_a", "entity_b")
        .agg(F.count(F.lit(1)).alias("n_shared_cells"))
    )


def cell_lang_entropy(
    df: DataFrame,
    cell_col: str = "cell_50km",
    lang_col: str = "lang",
    round_to: int = 6,
) -> DataFrame:
    """Shannon entropy of the language mix per cell (nats) — the
    linguistic-diversity surface: ~0 for monolingual cells, ln(k) for a
    uniform k-language mix. Returns (cell, n_docs, n_langs, entropy).

    Scale shape: one corpus shuffle to the (cell, lang) count, then a
    cell-keyed agg of that small table.

    Determinism note: unlike cell_distinctive_terms' score (a single
    product, bitwise-deterministic per engine), entropy is a float SUM
    over a cell's languages, and Spark's partial-aggregation order can
    vary run to run — so this op has a residual ulp surface the
    6-decimal rounding must absorb. The accumulated error is
    ~n_langs * eps * |sum| ≈ 1e-15, against a 5e-7 rounding boundary:
    a flip needs the true value within 1e-15 of a half-ulp-of-1e-6
    edge, which the generator's rational p = n/n_docs values do not
    manufacture. Kept as a documented weaker guarantee rather than a
    collect-and-sort deterministic sum, which would serialize the
    per-cell language lists for no behavioral gain.
    """
    cl = (
        df.select(F.col(cell_col).alias("cell"), F.col(lang_col).alias("lang"))
        .groupBy("cell", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    tot = cl.groupBy("cell").agg(F.sum("n").alias("n_docs"))
    return (
        cl.join(tot, "cell")
        .groupBy("cell")
        .agg(
            F.max("n_docs").alias("n_docs"),
            F.count(F.lit(1)).alias("n_langs"),
            F.round(
                -F.sum(
                    (F.col("n") / F.col("n_docs"))
                    * F.log(F.col("n") / F.col("n_docs"))
                ),
                round_to,
            ).alias("entropy"),
        )
    )
