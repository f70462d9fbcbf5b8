#!/usr/bin/env python3
"""Synthesize an sf1-equivalent scale point from the sf0.1 fixture.

The driver ships sf0.001/0.01/0.1 only, and /root/testdata is
read-only, so the 10x point for the round-7 scale campaign
(SCALE_POINT_r7.json) is derived: REPLICATE sf0.1 ten times with
disjoint key ranges — weak scaling, the same shape TPC-H itself has
(orders, parts, customers all grow linearly, graph density stays
constant; a key-preserving replication would instead densify the
co-purchase graph quadratically and measure the data, not the engine).

Only the tables the iterative family reads are scaled:
  lineitem  — l_orderkey/l_partkey/l_suppkey shifted per replica
  orders    — o_orderkey/o_custkey shifted per replica
  documents — doc_id shifted; text CAESAR-SHIFTED per replica
              (letters rotated by the replica index) so replicas are
              not near-duplicates of each other: an exact copy with a
              new doc_id IS a real near-dup, and q83's components
              would grow 10x denser — quadratic LSH-bucket pairs —
              measuring an artifact of the replication, not scaling.
              Rotation keeps lengths (n_chars) and intra-replica
              duplicate structure bit-identical.

Usage: python3 tools/make_sf1.py [outdir] [replicas]
       (defaults /tmp/graft-sf1, 10; replicas=20 builds the sf2 point
       for the round-8 scaling-exponent campaign)

Replica cap: 26. The per-replica Caesar rotation has only 26 distinct
permutations — replica 26 would be byte-identical text to replica 0
under new doc_ids, i.e. a planted corpus-wide near-dup layer that
densifies q83/q70 quadratically and measures the replication artifact,
not the engine.
"""
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
OUT = sys.argv[1] if len(sys.argv) > 1 else "/tmp/graft-sf1"
REPLICAS = int(sys.argv[2]) if len(sys.argv) > 2 else 10
assert 1 <= REPLICAS <= 26, "text rotation supports at most 26 replicas"
ORD_OFF, PART_OFF, SUPP_OFF, CUST_OFF, DOC_OFF = (
    150000, 20000, 1000, 15000, 5000)

LOWER = "abcdefghijklmnopqrstuvwxyz"
UPPER = LOWER.upper()


def rot(s: str, i: int) -> str:
    return s[i:] + s[:i]


def main() -> None:
    import os
    os.makedirs(OUT, exist_ok=True)
    con = duckdb.connect()

    def replicate(table: str, select_i: str) -> None:
        parts = " UNION ALL ".join(
            select_i.format(i=i) for i in range(REPLICAS))
        con.execute(
            f"COPY ({parts}) TO '{OUT}/{table}.parquet' (FORMAT PARQUET)")
        n = con.execute(
            f"SELECT count(*) FROM '{OUT}/{table}.parquet'").fetchone()[0]
        print(f"[make_sf1] {table}: {n} rows")

    replicate("lineitem", f"""
        SELECT l_orderkey + {{i}} * {ORD_OFF} AS l_orderkey,
               l_partkey + {{i}} * {PART_OFF} AS l_partkey,
               l_suppkey + {{i}} * {SUPP_OFF} AS l_suppkey,
               l_linenumber, l_quantity, l_extendedprice, l_discount,
               l_tax, l_returnflag, l_linestatus, l_shipdate
        FROM '{SRC}/lineitem.parquet'""")
    replicate("orders", f"""
        SELECT o_orderkey + {{i}} * {ORD_OFF} AS o_orderkey,
               o_custkey + {{i}} * {CUST_OFF} AS o_custkey,
               o_orderstatus, o_totalprice, o_orderdate, o_orderpriority
        FROM '{SRC}/orders.parquet'""")
    # r8: the SF-proportional dimensions, key-shifted in lockstep with the
    # fact FKs above, so the de-broadcast campaign (q247/q251/q129/q258 —
    # joins against part/customer/supplier) measures with intact FK
    # containment at the 10x point. Same weak scaling: each replica's
    # facts reference exactly its replica's dim rows.
    replicate("customer", f"""
        SELECT c_custkey + {{i}} * {CUST_OFF} AS c_custkey,
               c_name, c_nationkey, c_acctbal, c_mktsegment
        FROM '{SRC}/customer.parquet'""")
    replicate("supplier", f"""
        SELECT s_suppkey + {{i}} * {SUPP_OFF} AS s_suppkey,
               s_name, s_nationkey, s_acctbal
        FROM '{SRC}/supplier.parquet'""")
    replicate("part", f"""
        SELECT p_partkey + {{i}} * {PART_OFF} AS p_partkey,
               p_name, p_brand, p_type, p_size, p_retailprice
        FROM '{SRC}/part.parquet'""")
    # nation/region are TRUE bounded dimensions — copied, not replicated
    for dim in ("nation", "region"):
        con.execute(f"COPY (SELECT * FROM '{SRC}/{dim}.parquet') "
                    f"TO '{OUT}/{dim}.parquet' (FORMAT PARQUET)")
        print(f"[make_sf1] {dim}: copied unscaled")
    # embeddings: vec_id shifted; components CIRCULARLY ROTATED by the
    # replica index — norm- and intra-replica-geometry-preserving, but
    # cross-replica cosines scramble, so exact copies do not flood the
    # ANN/near-dup candidate generators with replication artifacts.
    emb_selects = " UNION ALL ".join(
        f"""SELECT vec_id + {i} * 2000 AS vec_id,
               list_slice(embedding, {i + 1}, 64)
                 || list_slice(embedding, 1, {i}) AS embedding,
               label
            FROM '{SRC}/embeddings.parquet'""" for i in range(REPLICAS))
    con.execute(
        f"COPY ({emb_selects}) TO '{OUT}/embeddings.parquet' "
        "(FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{OUT}/embeddings.parquet'").fetchone()[0]
    print(f"[make_sf1] embeddings: {n} rows")
    doc_selects = " UNION ALL ".join(
        f"""SELECT doc_id + {i} * {DOC_OFF} AS doc_id,
               translate(text, '{LOWER}{UPPER}',
                         '{rot(LOWER, i)}{rot(UPPER, i)}') AS text,
               lang, source, n_chars
            FROM '{SRC}/documents.parquet'""" for i in range(REPLICAS))
    con.execute(
        f"COPY ({doc_selects}) TO '{OUT}/documents.parquet' "
        "(FORMAT PARQUET)")
    n = con.execute(
        f"SELECT count(*) FROM '{OUT}/documents.parquet'").fetchone()[0]
    print(f"[make_sf1] documents: {n} rows")
    print(f"[make_sf1] wrote {OUT}")


if __name__ == "__main__":
    main()
