#!/usr/bin/env python3
"""Class-decomposed oracle for q_semantic_dedup at GenScale SFs where
the committed formulation's within-bucket member pair join is
infeasible (2M vectors / nlist=16 buckets at sf100 -> ~125k-member
buckets; the committed `drops` join would evaluate ~1e10 cosines).

Exactness argument (tools/sf10_pair_oracle.py protocol): GenScale
replicas are byte-identical, so a vector's centroid assignment
(argmax cosine over the vec_id < nlist centroids, tie by cid) and its
pairwise cosine to any other vector are functions of the EMBEDDING
CLASS alone — all ~2k classes' members land in the same bucket as
their class. The committed any-earlier-id drop rule
("y dropped iff some x with x.vec_id < y.vec_id, same kept bucket,
cos(x,y) >= threshold") then collapses per class T to a single number

    m*(T) = min over classes X in T's bucket with cos(X,T) >= thr
            (T itself qualifies, cos=1) of min_member_id(X)

and keep(y in T) <=> y.id <= m*(T) — i.e. exactly T's min member is
kept iff no qualifying neighbor class has an earlier min id, else no
member of T survives. The bucket cap (<= maxCluster MEMBERS) is
modeled as sum of class multiplicities, exactly how the committed
oracle counts rows. Every stage is linear in classes or members.

Constants mirror graft.suite.SimilarityQueries: nlist=16, threshold=0.4, cap=100000.

Usage (mirrors sf10_pair_oracle.py):
  python3 tools/sf100_semdedup_oracle.py <sfDir> <outDir>
  VALIDATE=1 python3 tools/sf100_semdedup_oracle.py <sfDir> <outDir>
      vs the committed oracle SQL (run at sf0.01 AND sf0.1 first).
"""
import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from sf10_big_oracle import agg_of, connect  # noqa: E402

NLIST, THR, CAP = 16, 0.4, 100000


def cos(a, b):
    return (f"list_reduce(list_transform(list_zip({a}, {b}), p -> p[1]*p[2]), (x,y) -> x+y)"
            f" / (sqrt(list_reduce(list_transform({a}, x -> x*x), (x,y) -> x+y))"
            f" * sqrt(list_reduce(list_transform({b}, x -> x*x), (x,y) -> x+y)))")


DECOMPOSED = f"""
WITH dvec AS (SELECT min(vec_id) AS tid, embedding
              FROM embeddings GROUP BY embedding),
e AS (SELECT tid, list_transform(embedding, x -> cast(x AS double)) AS v
      FROM dvec),
memv AS (SELECT e2.vec_id AS id, d.tid
         FROM embeddings e2 JOIN dvec d ON e2.embedding = d.embedding),
mcount AS (SELECT tid, count(*) AS m FROM memv GROUP BY tid),
c AS (SELECT vec_id AS cid, list_transform(embedding, x -> cast(x AS double)) AS cv
      FROM embeddings WHERE vec_id < {NLIST}),
a0 AS (SELECT e.tid, e.v, c.cid, {cos('e.v', 'c.cv')} AS csim
       FROM e CROSS JOIN c),
a AS (SELECT tid, v, cid AS list
      FROM (SELECT *, row_number() OVER (
              PARTITION BY tid ORDER BY csim DESC, cid) AS rn FROM a0) t
      WHERE rn = 1),
ok AS (SELECT list FROM a JOIN mcount USING (tid)
       GROUP BY list HAVING sum(m) <= {CAP}),
-- min qualifying member id per class: own min, and every same-kept-bucket
-- class with cosine >= threshold contributes its min member id
qual AS (SELECT x.tid AS xt, y.tid AS yt
         FROM a x JOIN a y ON x.list = y.list
         JOIN ok ON x.list = ok.list
         WHERE {cos('x.v', 'y.v')} >= {THR}),
mstar AS (SELECT q.yt AS tid, min(mx.mn) AS mstar
          FROM qual q JOIN (SELECT tid, min(id) AS mn FROM memv GROUP BY tid) mx
            ON mx.tid = q.xt
          GROUP BY q.yt)
SELECT m.id AS vec_id, a.list AS cid,
       CASE WHEN ms.mstar IS NULL OR m.id <= ms.mstar THEN 1 ELSE 0 END AS keep
FROM memv m JOIN a ON a.tid = m.tid
LEFT JOIN mstar ms ON ms.tid = m.tid
"""


def main(sf_dir, out_dir):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    validate = bool(os.environ.get("VALIDATE"))
    con = connect(sf_dir)
    name = "q_semantic_dedup"
    cols = [r[0] for r in
            con.execute(f"DESCRIBE SELECT * FROM ({DECOMPOSED}) z LIMIT 0").fetchall()]
    got = agg_of(con, DECOMPOSED, cols)
    if validate:
        exp = agg_of(con, oracle[name], cols)
        tag = "vs committed oracle"
    else:
        exp = agg_of(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'", cols)
        tag = "vs spark dump"
    if got == exp:
        print(f"OK   {name}: {got[0]} rows {tag} "
              f"(count+sum+xor of 64-bit line hashes match)")
        print("ALL GREEN")
        return 0
    print(f"FAIL {name}: decomposed(n={got[0]},s={got[1]:x},x={got[2]:x}) "
          f"{tag}(n={exp[0]},s={exp[1]:x},x={exp[2]:x})")
    return 1


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
