"""Output checks made apart from the program: DuckDB running the program's
oracle SQL for the batch workloads, and reference models of the two
streaming operators written here. Each check returns a list of problems;
an empty list means the outputs are correct."""
import bisect
import collections
import datetime
import decimal
import hashlib
import json
import os
import struct

TPCH_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
               "lineitem"]

_EPOCH = datetime.datetime(1970, 1, 1)


def _dec(d):
    d = decimal.Decimal(d)
    return "dec:" + ("0" if d == 0 else format(d.normalize(), "f"))


def canon_duck(v):
    """Canonical text of a value as DuckDB's Python API returns it."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, float):
        return repr(v)
    if isinstance(v, decimal.Decimal):
        return _dec(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return "ts:%d" % ((v - _EPOCH) // datetime.timedelta(microseconds=1))
    if isinstance(v, datetime.date):
        return "date:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_duck(x) for x in v) + "]"
    return str(v)


def canon_jvm(v):
    """Canonical text of a value as the harness wrote it (see Out.value)."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, (int, str)):
        return str(v)
    if isinstance(v, list):
        return "[" + ",".join(canon_jvm(x) for x in v) + "]"
    if "d" in v:
        return repr(struct.unpack(">d", bytes.fromhex(v["d"].zfill(16)))[0])
    if "dec" in v:
        return _dec(v["dec"])
    if "ts" in v:
        return "ts:%d" % v["ts"]
    if "date" in v:
        return "date:" + v["date"]
    return "other:" + v["other"]


def result_hash(cols, rows):
    """Order-independent hash of a result, columns taken by sorted name."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(r[i] for i in order) for r in rows)
    h = hashlib.md5()
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()


def _cached(cache_dir, key_parts, compute):
    """compute() once per key: the oracle's answer depends only on its SQL,
    the input files and the DuckDB version, all of which are in the key."""
    import duckdb
    h = hashlib.sha256(json.dumps([duckdb.__version__, key_parts]).encode()).hexdigest()
    path = os.path.join(cache_dir, h + ".json")
    if os.path.exists(path):
        with open(path) as f:
            return json.load(f)
    value = compute()
    os.makedirs(cache_dir, exist_ok=True)
    with open(path + f".{os.getpid()}", "w") as f:
        json.dump(value, f)
    os.replace(path + f".{os.getpid()}", path)
    return value


def _files(data_dir, tables):
    out = []
    for t in tables:
        st = os.stat(f"{data_dir}/{t}.parquet")
        out.append([t, st.st_size, st.st_mtime_ns])
    return out


def _duck(data_dir, tables):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def check_tpch(data_dir, out_dir, cache_dir):
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    results = {}
    with open(os.path.join(out_dir, "tpch_results.jsonl")) as f:
        for line in f:
            r = json.loads(line)
            results[r["q"]] = r

    def run_oracle():
        con = _duck(data_dir, TPCH_TABLES)
        out = {}
        for name, sql in oracle.items():
            cur = con.execute(sql)
            out[name] = [[d[0] for d in cur.description],
                         [[canon_duck(v) for v in row] for row in cur.fetchall()]]
        return out

    expected = _cached(cache_dir, [sorted(oracle.items()), _files(data_dir, TPCH_TABLES)],
                       run_oracle)
    problems = []
    for name in sorted(oracle):
        got = results.get(name)
        if got is None:
            problems.append(f"{name}: no result")
            continue
        dcols, drows = expected[name]
        srows = [[canon_jvm(v) for v in row] for row in got["rows"]]
        if sorted(dcols) != sorted(got["cols"]):
            problems.append(f"{name}: columns {got['cols']} != {dcols}")
        elif len(drows) != len(srows):
            problems.append(f"{name}: {len(srows)} rows != {len(drows)}")
        elif result_hash(dcols, drows) != result_hash(got["cols"], srows):
            problems.append(f"{name}: row hash differs")
    return problems


def components(nodes, pairs):
    """Connected components as {node: smallest node of its component}."""
    parent = {n: n for n in nodes}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {n: find(n) for n in nodes}


def pipeline_oracle(data_dir, oracle):
    """Stages lang -> quality -> repetition -> exact_dedup composed from
    the per-stage oracle SQL over each stage's survivors; near-dup keepers
    from the LSH-pair oracle plus connected components computed here.
    Returns the funnel and the sorted keeper ids."""
    con = _duck(data_dir, [])
    con.execute(f"CREATE TABLE docs_all AS SELECT * FROM "
                f"read_parquet('{data_dir}/documents.parquet')")
    con.execute("CREATE TABLE s0 AS SELECT doc_id FROM docs_all")
    stages = [("lang", "q_lang_id", "doc_id", "lang_pred = 'en'"),
              ("quality", "q_quality_score", "doc_id", "keep"),
              ("repetition", "q_repetition", "doc_id", "keep"),
              ("exact_dedup", "q_dedup_exact", "keep_id", "true")]
    expect = [("docs_in", con.execute("SELECT count(*) FROM s0").fetchone()[0])]
    for i, (stage, q, id_col, keep) in enumerate(stages):
        con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs_all "
                    f"WHERE doc_id IN (SELECT doc_id FROM s{i})")
        con.execute(f"CREATE TABLE s{i + 1} AS SELECT {id_col} AS doc_id "
                    f"FROM ({oracle[q]}) WHERE {keep}")
        expect.append((stage, con.execute(f"SELECT count(*) FROM s{i + 1}").fetchone()[0]))
    con.execute("CREATE OR REPLACE VIEW documents AS SELECT * FROM docs_all "
                f"WHERE doc_id IN (SELECT doc_id FROM s{len(stages)})")
    survivors = [r[0] for r in con.execute(f"SELECT doc_id FROM s{len(stages)}").fetchall()]
    pairs = con.execute(oracle["q_minhash_lsh_pairs"]).fetchall()
    root = components(survivors, pairs)
    keepers = sorted(n for n, r in root.items() if n == r)
    expect.append(("near_dedup", len(keepers)))
    return [expect, keepers]


def check_pipeline(data_dir, out_dir, cache_dir):
    with open(os.path.join(out_dir, "oracle.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(out_dir, "funnel.json")) as f:
        funnel = [(k, v) for k, v in json.load(f)]
    kept = []
    with open(os.path.join(out_dir, "keepers.tsv")) as f:
        for line in f:
            doc_id, split = line.rstrip("\n").split("\t")
            kept.append((int(doc_id), split))
    expect, keepers = _cached(
        cache_dir, [sorted(oracle.items()), _files(data_dir, ["documents"])],
        lambda: pipeline_oracle(data_dir, oracle))
    expect = [tuple(e) for e in expect]
    keepers = set(keepers)

    problems = []
    if funnel != expect:
        problems.append(f"funnel {funnel} != oracle {expect}")
    if any(b[1] > a[1] for a, b in zip(funnel, funnel[1:])):
        problems.append(f"funnel increases: {funnel}")
    ids = [d for d, _ in kept]
    if len(ids) != len(set(ids)):
        problems.append("kept doc ids are not unique")
    if set(ids) != keepers:
        problems.append(f"keepers differ from the oracle's: {len(set(ids) ^ keepers)} ids")
    if {s for _, s in kept} - {"train", "test"}:
        problems.append("a keeper is neither train nor test")
    return problems


def join_model(events, window_ms):
    """Windowed inner equi-join on name: every grade and salary of the same
    name in the same tumbling window pair up."""
    grades = collections.defaultdict(list)
    salaries = collections.defaultdict(list)
    for _, side, ts, name, value, eid in events:
        key = (name, ts - ts % window_ms)
        (grades if side == "g" else salaries)[key].append((eid, value))
    out = []
    for key, gs in grades.items():
        for g_id, grade in gs:
            for s_id, salary in salaries.get(key, ()):
                out.append((key[0], key[1], g_id, s_id, grade, salary))
    return out


def topspeed_model(events, eviction_ms=10000, trigger_m=50.0):
    """GlobalWindow + TimeEvictor + DeltaTrigger per car, for events whose
    time ascends per car. The trigger fires on the first event at least
    `trigger_m` beyond the distance of the last firing event (0 before the
    first firing). On a firing at time t the evictor has removed every
    event older than t - eviction_ms, so the window holds the car's events
    up to the firing one with time >= t - eviction_ms; the emitted event
    is its fastest (ties: latest time, then farthest, then latest seq)."""
    per_car = collections.defaultdict(list)
    for e in events:
        per_car[e[0]].append(e)
    out = []
    for evs in per_car.values():
        times = [e[3] for e in evs]
        if times != sorted(times):
            raise ValueError("topspeed_model needs ascending time per car")
        fired_at = 0.0
        for j, e in enumerate(evs):
            if e[2] - fired_at >= trigger_m:
                lo = bisect.bisect_left(times, e[3] - eviction_ms, 0, j + 1)
                out.append(max(evs[lo:j + 1], key=lambda x: (x[1], x[3], x[2], x[4])))
                fired_at = e[2]
    return out


def _digest(rows):
    h = hashlib.md5()
    for line in sorted("\t".join(map(str, r)) for r in rows):
        h.update(line.encode())
        h.update(b"\n")
    return len(rows), h.hexdigest()


def check_stream_join(events, out_dir, window_ms):
    got = []
    with open(os.path.join(out_dir, "stream_out.tsv")) as f:
        for line in f:
            n, w, g, s, gr, sa = line.rstrip("\n").split("\t")
            got.append((n, int(w), int(g), int(s), int(gr), int(sa)))
    want = join_model(events, window_ms)
    (gn, gh), (wn, wh) = _digest(got), _digest(want)
    if (gn, gh) != (wn, wh):
        return [f"join output: {gn} rows (hash {gh[:8]}) != model {wn} rows (hash {wh[:8]})"]
    return []


def check_stream_topspeed(events, out_dir):
    got = []
    with open(os.path.join(out_dir, "stream_out.tsv")) as f:
        for line in f:
            car, speed, dist, t, seq = line.rstrip("\n").split("\t")
            d = struct.unpack(">d", bytes.fromhex(dist.zfill(16)))[0]
            got.append((int(car), int(speed), d, int(t), int(seq)))
    want = topspeed_model([(c, s, d, t, q) for _, c, s, d, t, q in events])
    (gn, gh), (wn, wh) = _digest(got), _digest(want)
    if (gn, gh) != (wn, wh):
        return [f"topspeed output: {gn} rows (hash {gh[:8]}) != model {wn} rows (hash {wh[:8]})"]
    return []
