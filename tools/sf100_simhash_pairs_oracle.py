#!/usr/bin/env python3
"""Class-decomposed oracle for q_simhash_pairs / q_simhash_pairs8 at
big SFs. The committed oracles compute the 64-bit simhash PER MEMBER
(5M docs x 16 hex-digit majority votes) and pair members inside band
buckets — at sf100 the member-level band join spills DuckDB to
disk-full. Simhash is a pure function of the text (token md5 majority
bits, no id-dependent arms), so the signature pipeline runs once per
distinct text: the committed SQL's own tok/h/nv/v/sim/sp_bands CTEs are
reused VERBATIM with documents -> dtext and doc_id -> tid substituted
(the sf10_pair_oracle protocol), the bucket cap is applied to MEMBER
counts (sum of class multiplicities, exactly how the committed sp_ok
counts rows), class pairs carry the committed hamming expression
unchanged (extracted from the SQL text, not re-derived), and member
pairs expand from the class-pair table straight into the count+sum+xor
aggregate.

Usage:
  python3 tools/sf100_simhash_pairs_oracle.py <sfDir> <outDir> [q1,q2]
  VALIDATE=1 ... — vs the committed oracle at sf0.01 AND sf0.1 first.
"""
import json
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from sf10_big_oracle import agg_of, connect  # noqa: E402

DTEXT = "SELECT min(doc_id) AS tid, text FROM documents GROUP BY text"
MEM = ("SELECT d.doc_id AS id, t.tid FROM documents d "
       "JOIN dtext t ON d.text = t.text")


def rewrite(sql):
    # head: everything up to the member-count bucket cap — the signature
    # and banding CTEs, reused verbatim at class granularity
    i = sql.index("sp_ok AS (")
    head = (sql[:i].replace("FROM documents", "FROM dtext")
                   .replace("doc_id", "tid"))
    head = head.replace("WITH tok AS", f"WITH dtext AS ({DTEXT}),\n"
                                       f"memv AS ({MEM}),\ntok AS", 1)
    # the committed hamming expression and threshold, lifted from the text
    m = re.search(r"(list_sum\(list_transform\(generate_series\(1, 16\).*?\)\) AS hamming)", sql)
    assert m, "hamming expression not found"
    ham = m.group(1)[:-len(" AS hamming")]
    t = re.search(r"WHERE hamming <= (\d+)", sql)
    assert t, "hamming threshold not found"
    maxh = t.group(1)
    # bucket cap lifted from the committed sp_ok clause, not hard-coded:
    # if LshMaxBucket changes in graft.suite.Shared the decomposer must follow
    # (r13 advisory — a pinned 2..1000 here would drift silently)
    cap = re.search(r"BETWEEN\s+(\d+)\s+AND\s+(\d+)", sql[i:], re.I)
    assert cap, "bucket cap not found in committed sp_ok clause"
    lo, hi = cap.group(1), cap.group(2)
    return head + f"""sp_ok AS (SELECT band_key FROM sp_bands
       JOIN (SELECT tid, count(*) AS m FROM memv GROUP BY tid) mc USING (tid)
       GROUP BY band_key HAVING sum(m) BETWEEN {lo} AND {hi}),
clp AS (SELECT DISTINCT a.tid AS ta, b.tid AS tb,
               a.simhash AS sa, b.simhash AS sb
        FROM sp_bands a JOIN sp_bands b
          ON a.band_key = b.band_key AND a.tid <= b.tid
        JOIN sp_ok ON a.band_key = sp_ok.band_key),
chp AS (SELECT ta, tb, cast(h AS int) AS hamming
        FROM (SELECT ta, tb, {ham} AS h FROM clp) z
        WHERE h <= {maxh})
SELECT least(ma.id, mb.id) AS doc_a, greatest(ma.id, mb.id) AS doc_b,
       chp.hamming
FROM chp JOIN memv ma ON ma.tid = chp.ta
         JOIN memv mb ON mb.tid = chp.tb
WHERE ma.id < mb.id OR chp.ta <> chp.tb"""


def main(sf_dir, out_dir, names):
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    validate = bool(os.environ.get("VALIDATE"))
    con = connect(sf_dir)
    fails = 0
    for name in names:
        dec = rewrite(oracle[name])
        cols = [r[0] for r in
                con.execute(f"DESCRIBE SELECT * FROM ({dec}) z LIMIT 0").fetchall()]
        got = agg_of(con, dec, cols)
        if validate:
            exp = agg_of(con, oracle[name], cols)
            tag = "vs committed oracle"
        else:
            exp = agg_of(con, f"SELECT * FROM '{out_dir}/{name}/*.parquet'", cols)
            tag = "vs spark dump"
        if got == exp:
            print(f"OK   {name}: {got[0]} rows {tag} "
                  f"(count+sum+xor of 64-bit line hashes match)")
        else:
            print(f"FAIL {name}: decomposed(n={got[0]},s={got[1]:x},x={got[2]:x}) "
                  f"{tag}(n={exp[0]},s={exp[1]:x},x={exp[2]:x})")
            fails += 1
    print("ALL GREEN" if fails == 0 else f"{fails} FAILURES")
    return 1 if fails else 0


if __name__ == "__main__":
    names = (sys.argv[3].split(",") if len(sys.argv) > 3 else
             ["q_simhash_pairs8"])
    sys.exit(main(sys.argv[1], sys.argv[2], names))
