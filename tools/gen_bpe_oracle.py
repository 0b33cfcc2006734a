#!/usr/bin/env python3
"""Generate the fixed-corpus BPE oracle tables of graft.suite.TextQueries.

Independent naive BPE (train + encode), zero shared code with the Scala
implementation — so the embedded VALUES stay a genuine cross-check of
graft.text.Bpe, not an echo of its output. Run against the correctness
gate's fixed scale factor:

    python3 tools/gen_bpe_oracle.py /root/testdata/sf0.01 12 2

Prints two SQL fragments to paste into the q_bpe_merges / q_bpe_encode
oracles in graft.suite.TextQueries:
  - the ranked merge table (rank, left, right, pair_freq)
  - the per-distinct-word subword unit count under those merges
(The q_bpe_encode oracle joins the word-units VALUES back onto the
tokenized documents table, so only |vocab| rows are embedded, not |docs|.)
"""
import sys
from collections import Counter

import duckdb

EOW = "</w>"


def apply_merge(syms, l, r):
    out, i = [], 0
    while i < len(syms):
        if i + 1 < len(syms) and syms[i] == l and syms[i + 1] == r:
            out.append(l + r)
            i += 2
        else:
            out.append(syms[i])
            i += 1
    return out


def main(sf_dir, num_merges, min_freq):
    con = duckdb.connect()
    # documents.parquet is a single file in the driver's testdata and a
    # DIRECTORY of part files in Spark-written replicas (GenAlt/GenScale)
    import os
    path = f"{sf_dir}/documents.parquet"
    if os.path.isdir(path):
        path = f"{path}/*.parquet"
    texts = [r[0] for r in con.execute(
        f"SELECT text FROM '{path}'").fetchall()]
    wc = Counter(w for t in texts for w in t.split(" ") if w)
    state = {w: list(w) + [EOW] for w in wc}
    merges = []
    for rank in range(1, num_merges + 1):
        counts = Counter()
        for w, syms in state.items():
            f = wc[w]
            for a, b in zip(syms, syms[1:]):
                counts[(a, b)] += f
        if not counts:
            break
        (l, r), c = sorted(counts.items(),
                           key=lambda kv: (-kv[1], kv[0][0], kv[0][1]))[0]
        if c < min_freq:
            break
        merges.append((rank, l, r, c))
        state = {w: apply_merge(s, l, r) for w, s in state.items()}

    def q(s):
        return "'" + s.replace("'", "''") + "'"

    print("-- q_bpe_merges VALUES (rank, left, right, pair_freq):")
    print(",\n".join(f"({rk}, {q(l)}, {q(r)}, {c})" for rk, l, r, c in merges))
    print()
    print("-- word-units VALUES (word, units) under those merges:")
    print(",\n".join(f"({q(w)}, {len(s)})"
                     for w, s in sorted(state.items())))


if __name__ == "__main__":
    main(sys.argv[1], int(sys.argv[2]), int(sys.argv[3]))
