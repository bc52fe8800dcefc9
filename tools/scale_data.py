#!/usr/bin/env python
"""Deterministic scale-up of the driver-generated testdata.

Synthesizes an sf-R*0.1 dataset from /root/testdata/sf0.1 by key-offset
replication, so scaling behavior (shuffle sizes, candidate-pair counts,
partition counts) can be measured above the largest driver-provided SF
without touching the read-only testdata tree.

Replication rules (replica k of R, key offset k * 10**9):

- region/nation: fixed-cardinality dims — copied once, like TPC-H.
- customer/supplier/part/orders/lineitem/events: every primary AND
  foreign key shifted by the replica offset, so FK integrity holds and
  each replica is a disjoint-key copy (group-by cardinalities on keys
  scale ~R; date/segment group cardinalities stay fixed with R* rows
  per group — the realistic big-data shape).
- documents: every word gets a replica prefix (bijective token rename),
  which preserves each replica's internal shingle/Jaccard structure
  EXACTLY while guaranteeing zero cross-replica n-gram overlap — dedup
  candidate counts must therefore scale linearly in R; superlinear
  growth in bench timings flags an O(n^2) path.
- embeddings: copied verbatim under new vec_ids (exact duplicate
  vectors across replicas — the adversarial case for ANN/near-dup:
  every vector gains R-1 planted neighbors).

- customer_fuzzy (not written by ``scale()``: its readers call
  ``scale_fuzzy_customers`` with their own out_dir): the plain
  replicated customer table cannot canary the fuzzy (levenshtein)
  join — c_name replicates VERBATIM, so every name gains R-1 exact
  copies and the TRUE lev<=d pair set grows quadratically in R. This
  variant interleaves a replica-unique marker letter before EVERY
  character of c_name (replica k: "Customer#07" -> "kCkuk...k0k7"
  with marker FUZZY_MARKERS[k]). Two guarantees make the 10x canary
  exact: (1) a bijective per-character rename is a string isomorphism
  — levenshtein distances WITHIN a replica are identical to replica
  0's, so per-replica pair sets match the R=1 variant by
  construction; (2) across replicas i != j, none of the 18 marker
  occurrences in a name can ever match any character of the other
  replica's name (markers are pairwise distinct and drawn from
  letters absent from c_name), so every alignment pays >= 18 edits —
  cross-replica lev is >= 18 >> any useful threshold, and TRUE pairs
  at R replicas are EXACTLY R x pairs(R=1).

Usage: python tools/scale_data.py [R] [out_dir]   (defaults: 10 /tmp/sf1)
"""

from __future__ import annotations

import os
import sys

import duckdb

SRC = "/root/testdata/sf0.1"
KOFF = 10**9

# Replica marker letters for customer_fuzzy: pairwise distinct, and
# none occurs in any c_name ("Customer#" + digits, i.e. the chars
# {C, u, s, t, o, m, e, r, #, 0-9}) — lowercase 'c' and every
# uppercase letter except 'C' are therefore safe. The first ten stay
# in their historic order so corpora built before r17 keep their
# replica markers; r17 extended the alphabet to 44 for the R=30
# fuzzy linearity canary (r16 verdict item 6). 44 single-char markers
# is the construction's hard cap — longer markers would change
# within-replica indel distances relative to the 1-char base variant
# and break the exact-R-linearity argument.
FUZZY_MARKERS = "abdfghijkl" + "cnpqvwxyz" + "ABDEFGHIJKLMNOPQRSTUVWXYZ"


def scale_fuzzy_customers(
    r: int, out_dir: str, limit: int | None = None
) -> None:
    """Write ``customer_fuzzy.parquet``: R disjoint-key replicas of
    customer with the per-replica marker-interleaved c_name (module
    docstring has the exactness argument). bench.py,
    tools/sf3_canary.py and the pytest pin each build the R-replica
    table and the R=1 base variant in their own directories. ``limit``
    keeps only base rows with c_custkey < limit — every replica
    replicates the SAME subset, so the R-linearity guarantee is
    unchanged (used by the pytest pin to stay cheap)."""
    if r > len(FUZZY_MARKERS):
        raise ValueError(f"at most {len(FUZZY_MARKERS)} replicas")
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()
    where = f" WHERE c_custkey < {int(limit)}" if limit is not None else ""
    parts = [
        f"SELECT c_custkey + {k * KOFF} AS c_custkey,"
        f" regexp_replace(c_name, '(.)', '{FUZZY_MARKERS[k]}\\1', 'g')"
        f" AS c_name"
        f" FROM read_parquet('{SRC}/customer.parquet'){where}"
        for k in range(r)
    ]
    out = f"{out_dir}/customer_fuzzy.parquet"
    con.execute(
        f"COPY ({' UNION ALL '.join(parts)}) TO '{out}' (FORMAT PARQUET)"
    )
    n = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
    print(f"customer_fuzzy: {n} rows")


def scale(r: int, out_dir: str, tables: set[str] | None = None) -> None:
    """``tables`` restricts the build to a subset (default: all) — the
    replication RULES stay single-sourced here either way (e.g.
    tools/sf3_canary.py needs only documents; rewriting its rename
    rule elsewhere could silently drift from this one)."""
    os.makedirs(out_dir, exist_ok=True)
    con = duckdb.connect()

    def src(t: str) -> str:
        return f"read_parquet('{SRC}/{t}.parquet')"

    def write(t: str, union_sql: str) -> None:
        if tables is not None and t not in tables:
            return
        out = f"{out_dir}/{t}.parquet"
        con.execute(f"COPY ({union_sql}) TO '{out}' (FORMAT PARQUET)")
        n = con.execute(f"SELECT COUNT(*) FROM '{out}'").fetchone()[0]
        print(f"{t}: {n} rows")

    for t in ("region", "nation"):
        write(t, f"SELECT * FROM {src(t)}")

    def replicate(t: str, select_k: str) -> None:
        if tables is not None and t not in tables:
            return
        parts = [select_k.format(off=k * KOFF, k=k) for k in range(r)]
        write(t, " UNION ALL ".join(parts))

    replicate(
        "customer",
        f"SELECT c_custkey + {{off}} AS c_custkey, c_name, c_nationkey,"
        f" c_acctbal, c_mktsegment FROM {src('customer')}",
    )
    replicate(
        "supplier",
        f"SELECT s_suppkey + {{off}} AS s_suppkey, s_name, s_nationkey,"
        f" s_acctbal FROM {src('supplier')}",
    )
    replicate(
        "part",
        f"SELECT p_partkey + {{off}} AS p_partkey, p_name, p_brand, p_type,"
        f" p_size, p_retailprice FROM {src('part')}",
    )
    replicate(
        "orders",
        f"SELECT o_orderkey + {{off}} AS o_orderkey, o_custkey + {{off}} AS"
        f" o_custkey, o_orderstatus, o_totalprice, o_orderdate,"
        f" o_orderpriority FROM {src('orders')}",
    )
    replicate(
        "lineitem",
        f"SELECT l_orderkey + {{off}} AS l_orderkey, l_partkey + {{off}} AS"
        f" l_partkey, l_suppkey + {{off}} AS l_suppkey, l_linenumber,"
        f" l_quantity, l_extendedprice, l_discount, l_tax, l_returnflag,"
        f" l_linestatus, l_shipdate FROM {src('lineitem')}",
    )
    replicate(
        "events",
        f"SELECT event_id + {{off}} AS event_id, ts, user_id + {{off}} AS"
        f" user_id, event_type, value, props FROM {src('events')}",
    )
    replicate(
        "documents",
        f"SELECT doc_id + {{off}} AS doc_id,"
        " regexp_replace(text, '(\\S+)', 'r{k}\\1', 'g') AS text,"
        f" lang, source, n_chars FROM {src('documents')}",
    )
    replicate(
        "embeddings",
        f"SELECT vec_id + {{off}} AS vec_id, embedding, label"
        f" FROM {src('embeddings')}",
    )


if __name__ == "__main__":
    r = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    out = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf1"
    scale(r, out)
