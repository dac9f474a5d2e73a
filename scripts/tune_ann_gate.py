"""Empirically confirm the gate instantiations of the ANN/near-dup operators
are EXACT on the driver's test slices (sf0.001 / sf0.01): the contract
queries then carry full DuckDB oracles instead of rows-only checks.

Usage: python scripts/tune_ann_gate.py
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb
from pyspark.sql import functions as F

from nabu_spark.session import get_spark


def exact_pairs(con, sf_dir, threshold):
    return con.execute(
        f"""
        WITH e AS (SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'),
        p AS (SELECT a.vec_id id_a, b.vec_id id_b,
          list_dot_product(a.embedding,b.embedding)/
            (sqrt(list_dot_product(a.embedding,a.embedding))*
             sqrt(list_dot_product(b.embedding,b.embedding))) c
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
        SELECT id_a, id_b FROM p WHERE c >= {threshold} ORDER BY 1, 2
        """
    ).fetchall()


def exact_topk(con, sf_dir, k=5, nq=5):
    return con.execute(
        f"""
        WITH e AS (SELECT vec_id, embedding FROM '{sf_dir}/embeddings.parquet'),
        q AS (SELECT vec_id query_id, embedding qv FROM e ORDER BY vec_id LIMIT {nq}),
        scored AS (SELECT q.query_id, c.vec_id neighbor_id,
          list_dot_product(q.qv,c.embedding)/
            (sqrt(list_dot_product(q.qv,q.qv))*
             sqrt(list_dot_product(c.embedding,c.embedding))) cos
          FROM q CROSS JOIN e c WHERE q.query_id <> c.vec_id),
        ranked AS (SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) rnk
          FROM scored)
        SELECT query_id, neighbor_id, rnk FROM ranked WHERE rnk <= {k} ORDER BY 1, 3
        """
    ).fetchall()


def main():
    from nabu_spark.operators.dedup import embedding_near_dups
    from nabu_spark.operators.similarity import ivf_topk, lsh_topk

    spark = get_spark(app_name="tune-ann", cores=8, shuffle_partitions=8)
    con = duckdb.connect()
    ok = True
    for sf_dir in ("/root/testdata/sf0.001", "/root/testdata/sf0.01"):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        queries = emb.orderBy("vec_id").limit(5)

        got = sorted(
            (r["id_a"], r["id_b"])
            for r in embedding_near_dups(
                emb, threshold=0.4, bands=32, planes_per_band=2
            ).collect()
        )
        want = [tuple(r) for r in exact_pairs(con, sf_dir, 0.4)]
        print(f"{sf_dir} near_dups: got={len(got)} want={len(want)} exact={got == want}")
        ok &= got == want

        want_k = [tuple(r) for r in exact_topk(con, sf_dir)]
        got_lsh = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in lsh_topk(
                emb, queries, k=5, n_planes=4, n_probes=4, n_tables=8
            ).collect()
        )
        print(f"{sf_dir} lsh_topk: got={len(got_lsh)} exact={got_lsh == sorted(want_k)}")
        ok &= got_lsh == sorted(want_k)

        got_ivf = sorted(
            (r["query_id"], r["neighbor_id"], r["rank"])
            for r in ivf_topk(
                emb, queries, k=5, n_clusters=8, n_probe=6
            ).collect()
        )
        print(f"{sf_dir} ivf_topk: got={len(got_ivf)} exact={got_ivf == sorted(want_k)}")
        ok &= got_ivf == sorted(want_k)
    print("ALL EXACT" if ok else "NOT EXACT — tune parameters")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
