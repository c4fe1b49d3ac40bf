"""Generate a 10x scale-up of the driver's sf0.1 testdata for the
scaling study (BASELINE.md): sf1.0 = 10 DISJOINT key-offset shards,
each isomorphic to sf0.1.

Construction notes (what keeps the scale-up honest):

- Every key column is offset by ``shard * (max_key + 1)`` so
  referential integrity holds within each shard and shards never
  collide — row counts scale exactly 10x with unchanged distributions.
- ``nation``/``region`` stay fixed (they are fixed-size dimensions at
  every TPC-H scale factor); customer/supplier nationkeys still
  resolve.
- ``documents.text``: every word in shard i > 0 is split into <= 6
  char chunks joined AND suffixed by a 3-char tag derived from
  ``md5(word || shard)``. Two properties, each load-bearing:

  * chunking bounds the longest run of unchanged characters at
    chunk(6) + space(1) = 7 < 9, so no 9-char shingle of the ORIGINAL
    text survives into any tagged shard (cross-shard disjointness up
    to rare per-word tag collisions, ~1/256 per word — asserted below
    to stay under 0.5%);
  * the tag varies PER WORD. A fixed per-shard tag (both earlier
    devices: ``w || 'x<i>'``, and chunking with a constant tag) turns
    the tag into shard-wide BOILERPLATE — every doc in the shard
    shares every tag shingle, within-shard Jaccard inflates, and
    MinHash candidate pairs explode ~50x per shard (measured:
    335 -> 182k pairs at 10 copies with the constant tag; a
    pair-density stress test, not a scale-up). Deriving the tag from
    the word makes two docs share a tag exactly when they already
    share the word — the original similarity structure, so planted
    near-dups stay near-dups and pair counts scale with the copy
    count.
- ``embeddings`` get a per-shard SIGNED PERMUTATION of dimensions
  (orthogonal ⇒ within-shard cosines preserved exactly, cross-shard
  cosines ~random): near-dup PAIR counts scale 10x like the
  documents', not 100x as verbatim copies would (verbatim gives every
  vector 9 exact twins — a pair-density stress test, not a scale-up).
  ``vec_id < 5`` keeps the q38 query batch fixed while the corpus
  grows 10x — the scaling a production ANN serves.

Usage: python tools/make_scaled_testdata.py [--out .localdata/sf1.0]
"""

from __future__ import annotations

import argparse
import os

import duckdb

SRC = "/root/testdata/sf0.1"
COPIES = 10


def q(con, sql):
    return con.execute(sql).fetchone()[0]


def main() -> None:
    ap = argparse.ArgumentParser()
    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    ap.add_argument("--out", default=os.path.join(root, ".localdata", "sf1.0"))
    ap.add_argument("--copies", type=int, default=COPIES)
    args = ap.parse_args()
    os.makedirs(args.out, exist_ok=True)

    con = duckdb.connect()
    for t in (
        "region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings",
    ):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{SRC}/{t}.parquet'")

    stride = {
        "order": q(con, "SELECT max(o_orderkey) + 1 FROM orders"),
        "cust": q(con, "SELECT max(c_custkey) + 1 FROM customer"),
        "supp": q(con, "SELECT max(s_suppkey) + 1 FROM supplier"),
        "part": q(con, "SELECT max(p_partkey) + 1 FROM part"),
        "doc": q(con, "SELECT max(doc_id) + 1 FROM documents"),
        "vec": q(con, "SELECT max(vec_id) + 1 FROM embeddings"),
        "event": q(con, "SELECT max(event_id) + 1 FROM events"),
        "user": q(con, "SELECT max(user_id) + 1 FROM events"),
    }

    def shard_union(tpl: str) -> str:
        return "\nUNION ALL\n".join(tpl.format(i=i) for i in range(args.copies))

    copies = {
        "region": "SELECT * FROM region",
        "nation": "SELECT * FROM nation",
        "customer": shard_union(
            f"SELECT c_custkey + {{i}} * {stride['cust']} AS c_custkey,"
            " c_name, c_nationkey, c_acctbal, c_mktsegment FROM customer"
        ),
        "supplier": shard_union(
            f"SELECT s_suppkey + {{i}} * {stride['supp']} AS s_suppkey,"
            " s_name, s_nationkey, s_acctbal FROM supplier"
        ),
        "part": shard_union(
            f"SELECT p_partkey + {{i}} * {stride['part']} AS p_partkey,"
            " p_name, p_brand, p_type, p_size, p_retailprice FROM part"
        ),
        "orders": shard_union(
            f"SELECT o_orderkey + {{i}} * {stride['order']} AS o_orderkey,"
            f" o_custkey + {{i}} * {stride['cust']} AS o_custkey,"
            " o_orderstatus, o_totalprice, o_orderdate, o_orderpriority FROM orders"
        ),
        "lineitem": shard_union(
            f"SELECT l_orderkey + {{i}} * {stride['order']} AS l_orderkey,"
            f" l_partkey + {{i}} * {stride['part']} AS l_partkey,"
            f" l_suppkey + {{i}} * {stride['supp']} AS l_suppkey,"
            " l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax,"
            " l_returnflag, l_linestatus, l_shipdate FROM lineitem"
        ),
        "events": shard_union(
            f"SELECT event_id + {{i}} * {stride['event']} AS event_id, ts,"
            f" user_id + {{i}} * {stride['user']} AS user_id,"
            " event_type, value, props FROM events"
        ),
        # chunk(<=6) + per-word md5 tag join/suffix (module docstring):
        # bounds unchanged runs at 7 chars AND injects no shard-wide
        # boilerplate — tags repeat only where words already repeat
        "documents": shard_union(
            f"SELECT doc_id + {{i}} * {stride['doc']} AS doc_id,"
            " CASE WHEN {i} = 0 THEN text ELSE array_to_string("
            "   list_transform(str_split(text, ' '),"
            "     w -> array_to_string("
            "            [substring(w, (c-1)*6 + 1, 6) || 'x' || substr(md5(w || 's{i}'), 1, 2)"
            "             for c in range(1, CAST(greatest(ceil(length(w)/6.0), 1) AS INT) + 1)],"
            "            '')), ' ') END AS text,"
            " lang, source,"
            " CASE WHEN {i} = 0 THEN n_chars ELSE CAST(length(array_to_string("
            "   list_transform(str_split(text, ' '),"
            "     w -> array_to_string("
            "            [substring(w, (c-1)*6 + 1, 6) || 'x' || substr(md5(w || 's{i}'), 1, 2)"
            "             for c in range(1, CAST(greatest(ceil(length(w)/6.0), 1) AS INT) + 1)],"
            "            '')), ' ')) AS BIGINT)"
            " END AS n_chars"
            " FROM documents"
        ),
        # Shard i > 0 applies a SIGNED PERMUTATION (rotate by 17*i, then
        # md5-derived per-dimension sign flips) — an orthogonal
        # transform, so every within-shard pairwise cosine is preserved
        # EXACTLY while cross-shard vectors decorrelate to ~random
        # cosine (~N(0, 1/sqrt(64)), far below near-dup thresholds).
        # Verbatim copies would give every vector 9 exact twins and
        # turn embedding near-dup/semantic-dedup timings into a 100x
        # pair-density stress test instead of a 10x scale-up of the
        # sf0.1 distribution — the same reasoning as the documents'
        # shingle-disjoint word suffix above.
        "embeddings": shard_union(
            f"SELECT vec_id + {{i}} * {stride['vec']} AS vec_id,"
            " CASE WHEN {i} = 0 THEN embedding ELSE CAST("
            "   [embedding[((j - 1 + {i} * 17) % 64) + 1]"
            "    * (CASE WHEN CAST(('0x' || substr(md5('emb{i}:' || CAST(j AS VARCHAR)), 1, 2)) AS INT) % 2 = 0"
            "       THEN 1.0 ELSE -1.0 END)"
            "    for j in range(1, 65)] AS FLOAT[]) END AS embedding,"
            " label FROM embeddings"
        ),
    }

    for t, sql in copies.items():
        dst = f"{args.out}/{t}.parquet"
        con.execute(f"COPY ({sql}) TO '{dst}' (FORMAT PARQUET)")
        n = q(con, f"SELECT count(*) FROM '{dst}'")
        print(f"{t}: {n} rows -> {dst}")

    # the disjointness CONTRACT, asserted on the artifact itself: the
    # 9-char shingles a shard-0 doc shares with its shard-1 twin (the
    # strongest leak channel — same source text) must stay under 0.5%
    # of the twin's shingles. Zero is unreachable by design: per-word
    # tags collide across shards w.p. ~1/256 per word; what matters is
    # that the leak stays far below any near-dup threshold so decade
    # pair counts track planted structure, not the device.
    if args.copies > 1:
        ndoc = stride["doc"]
        shared, total = con.execute(
            f"""
            WITH d AS (SELECT doc_id, lower(text) AS t FROM '{args.out}/documents.parquet'),
            s0 AS (SELECT doc_id, unnest(list_distinct(
                     [substring(t, CAST(i AS INT), 9) for i in range(1, greatest(length(t) - 8, 1) + 1)])) AS g
                   FROM d WHERE doc_id < {ndoc}),
            s1 AS (SELECT doc_id - {ndoc} AS doc_id, unnest(list_distinct(
                     [substring(t, CAST(i AS INT), 9) for i in range(1, greatest(length(t) - 8, 1) + 1)])) AS g
                   FROM d WHERE doc_id >= {ndoc} AND doc_id < 2 * {ndoc})
            SELECT (SELECT count(*) FROM s0 JOIN s1 USING (doc_id, g)),
                   (SELECT count(*) FROM s1)
            """
        ).fetchone()
        frac = shared / max(total, 1)
        assert frac < 0.005, f"cross-shard shingle leak {frac:.2%} ({shared}/{total})"
        print(f"disjointness check: twin-shared 9-grams = {frac:.4%} (< 0.5% contract)")


if __name__ == "__main__":
    main()
