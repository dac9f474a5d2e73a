"""Host-level link-graph analytics for crawl scheduling and data curation.

A web-scale training pipeline weighs domains by link authority (crawl
frontier priority, quality weighting for mixing). Two operators:

  * ``pagerank`` — power iteration over a (src, dst) edge table with proper
    dangling-mass redistribution. Each iteration is one equi-join on src and
    one groupBy on dst — the canonical Spark shape; ``materialize`` keeps the
    plan and its statistics bounded at any iteration count.
  * ``stratified_cap`` — at most N documents per domain, chosen by a
    deterministic md5 hash order rather than id order so the cap is an
    unbiased uniform subsample of each domain and reproducible across runs
    and cluster sizes.

Scale notes (100 TB): the edge table shuffles once per iteration on its join
key; host graphs are ~1e7 nodes even for full Common Crawl — tiny next to
the page corpus — so iterations are cheap relative to extraction. Rank and
degree relations stay (host, double) narrow. ``stratified_cap``'s window
partitions by domain: a mega-domain makes one hot partition, but the window
only carries (id, domain, hash) rows and row_number short-circuits beyond
the cap via the running count, which AQE splits adequately in practice; for
truly pathological domains pre-filter with a sampled count.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from ..session import bounded_collect, materialize

_PAGERANK_DRIVER_CAP = 100_000  # nabu_spark.session.driver_cap overrides it


def pagerank(
    edges: DataFrame,
    *,
    iterations: int = 5,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
) -> DataFrame:
    """(node, rank) after ``iterations`` rounds of power iteration with
    uniform teleport and dangling-mass redistribution; ranks sum to 1.

    Edge sets up to ``_PAGERANK_DRIVER_CAP`` rows iterate in-memory (one
    bounded collect): each distributed round costs ~10 jobs of
    checkpoint/shuffle overhead, which dwarfs compute on bounded graphs —
    host-level link graphs are dictionary-sized. Larger edge sets run the
    distributed rounds (``driver_cap(0)`` forces them; agreement pinned by
    tests)."""
    rows, e = bounded_collect(
        edges.select(F.col(src_col).alias("src"), F.col(dst_col).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct(), _PAGERANK_DRIVER_CAP, site="pagerank")
    if rows is not None:
        return _pagerank_local(
            edges.sparkSession, e.schema["src"].dataType,
            [(r.src, r.dst) for r in rows], iterations, damping)
    nodes = materialize(
        e.select(F.col("src").alias("node"))
        .union(e.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    out_deg = e.groupBy("src").agg(F.count("*").alias("out_deg"))
    ranks = nodes.withColumn("rank", F.lit(1.0 / n))

    for _ in range(iterations):
        with_deg = ranks.join(
            out_deg, ranks.node == out_deg.src, "left"
        ).select("node", "rank", "out_deg")
        # dangling nodes (no out-edges) spread their mass uniformly
        dangling = with_deg.filter(F.col("out_deg").isNull()).agg(
            F.coalesce(F.sum("rank"), F.lit(0.0)).alias("_dm")
        )
        contribs = (
            e.join(with_deg.filter(F.col("out_deg").isNotNull()),
                   e.src == F.col("node"))
            .select("dst", (F.col("rank") / F.col("out_deg")).alias("_c"))
            .groupBy("dst")
            .agg(F.sum("_c").alias("_in"))
        )
        ranks = materialize(
            nodes.join(contribs, nodes.node == contribs.dst, "left")
            .join(F.broadcast(dangling))
            .select(
                "node",
                (
                    F.lit((1.0 - damping) / n)
                    + F.lit(damping)
                    * (F.coalesce(F.col("_in"), F.lit(0.0)) + F.col("_dm") / n)
                ).alias("rank"),
            )
        )
    return ranks


def stratified_cap(
    df: DataFrame,
    id_col: str = "doc_id",
    domain_col: str = "source",
    *,
    cap: int = 100,
    seed: int = 42,
) -> DataFrame:
    """At most ``cap`` rows per domain, selected by deterministic md5 hash
    order (an unbiased uniform subsample of each domain, identical across
    runs and partitionings). Keeps all original columns."""
    h = F.md5(
        F.concat_ws(":", F.lit(str(seed)), F.col(id_col).cast("string"))
    )
    w = Window.partitionBy(domain_col).orderBy(h, F.col(id_col))
    return (
        df.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= cap)
        .drop("_rn")
    )


def _pagerank_local(spark, node_type, pairs: list,
                    iterations: int, damping: float) -> DataFrame:
    """Exact in-memory mirror of the distributed rounds (deterministic
    summation order; parity at the contract's round(6) pinned by tests)."""
    from pyspark.sql.types import DoubleType, StructField, StructType

    nodes = sorted({s for s, _ in pairs} | {d for _, d in pairs})
    schema = StructType([StructField("node", node_type),
                         StructField("rank", DoubleType())])
    n = len(nodes)
    if n == 0:
        return spark.createDataFrame([], schema)
    out_deg: dict = {}
    adj = sorted(pairs)
    for s, _ in adj:
        out_deg[s] = out_deg.get(s, 0) + 1
    rank = {x: 1.0 / n for x in nodes}
    for _ in range(iterations):
        dm = 0.0
        for x in nodes:
            if x not in out_deg:
                dm += rank[x]
        in_sum: dict = {}
        for s, d in adj:
            in_sum[d] = in_sum.get(d, 0.0) + rank[s] / out_deg[s]
        rank = {
            x: (1.0 - damping) / n
            + damping * (in_sum.get(x, 0.0) + dm / n)
            for x in nodes
        }
    return spark.createDataFrame(sorted(rank.items()), schema)


def pagerank_oracle_sql(
    edges_cte: str,
    *,
    iterations: int = 5,
    damping: float = 0.85,
    round_to: int = 6,
) -> str:
    """DuckDB-equivalent SQL for ``pagerank``: the power iteration unrolled
    into one CTE per round (fixed iteration count → plain CTE chain, no
    recursive aggregation needed). ``edges_cte`` must select (src, dst)."""
    d = damping
    parts = [
        f"WITH raw_edges AS ({edges_cte})",
        "e AS (SELECT DISTINCT src, dst FROM raw_edges WHERE src <> dst)",
        "nodes AS (SELECT src AS node FROM e UNION SELECT dst FROM e)",
        "n AS (SELECT count(*)::DOUBLE AS n FROM nodes)",
        "deg AS (SELECT src, count(*)::DOUBLE AS out_deg FROM e GROUP BY src)",
        "r0 AS (SELECT node, 1.0 / n.n AS rank FROM nodes CROSS JOIN n)",
    ]
    for i in range(iterations):
        prev, cur = f"r{i}", f"r{i + 1}"
        parts.append(
            f"""dm{i} AS (
              SELECT coalesce(sum(r.rank), 0.0) AS dm
              FROM {prev} r LEFT JOIN deg ON deg.src = r.node
              WHERE deg.src IS NULL
            )"""
        )
        parts.append(
            f"""c{i} AS (
              SELECT e.dst, sum(r.rank / deg.out_deg) AS cin
              FROM e JOIN {prev} r ON r.node = e.src
                     JOIN deg ON deg.src = e.src
              GROUP BY e.dst
            )"""
        )
        parts.append(
            f"""{cur} AS (
              SELECT nodes.node,
                     (1.0 - {d}) / n.n
                     + {d} * (coalesce(c{i}.cin, 0.0) + dm{i}.dm / n.n) AS rank
              FROM nodes CROSS JOIN n CROSS JOIN dm{i}
                   LEFT JOIN c{i} ON c{i}.dst = nodes.node
            )"""
        )
    head = ",\n".join(parts[1:])
    return (
        f"{parts[0]},\n{head}\n"
        f"SELECT node, round(rank, {round_to}) AS rank "
        f"FROM r{iterations} ORDER BY node"
    )
