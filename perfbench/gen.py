"""Seeded inputs of the benchmark. The same seed gives the same inputs; the
program only ever sees what these functions produce."""
import random

# WindowJoinSampleData.scala:35-37: six names, grade in [1, 5], salary in
# [1, 10000]; WindowJoin.scala:55: a 2000 ms tumbling window.
NAMES = ["tom", "jerry", "alice", "bob", "john", "grace"]
JOIN_WINDOW_MS = 2000
# Events per side in one window (one step). The reference runs 3 per
# second per side, i.e. 6 per window; 120 keeps the join output per step
# (about 6 * 20 * 20 rows) small while giving the state stores real rows.
JOIN_EVENTS_PER_SIDE = 120

# TopSpeedWindowing.scala:76-101: speeds start at 50 km/h and move by
# +/-5 in [0, 100] each 100 ms tick; distance grows by speed / 3.6 m.
TOPSPEED_CARS = 200
TOPSPEED_TICKS_PER_STEP = 25  # 200 cars * 25 ticks = 5000 events per step
TICK_MS = 100

T0_MS = 1_600_000_000_000  # a multiple of the window, so windows align


def join_events(seed, steps):
    """(step, side, ts_ms, name, grade_or_salary, id) rows. Step i holds
    exactly JOIN_EVENTS_PER_SIDE grades and salaries, all inside window i,
    so every step's events lie past the previous step's watermark."""
    rng = random.Random(seed)
    rows = []
    next_id = 0
    for step in range(steps):
        base = T0_MS + step * JOIN_WINDOW_MS
        for side, hi in (("g", 5), ("s", 10000)):
            for _ in range(JOIN_EVENTS_PER_SIDE):
                rows.append((step, side, base + rng.randrange(JOIN_WINDOW_MS),
                             rng.choice(NAMES), rng.randint(1, hi), next_id))
                next_id += 1
    return rows


def topspeed_events(seed, steps):
    """(step, car, speed, distance, time_ms, seq) rows, one per car per
    tick, TOPSPEED_TICKS_PER_STEP ticks per step."""
    rng = random.Random(seed)
    speed = [50] * TOPSPEED_CARS
    dist = [0.0] * TOPSPEED_CARS
    rows = []
    for tick in range(steps * TOPSPEED_TICKS_PER_STEP):
        step = tick // TOPSPEED_TICKS_PER_STEP
        t = T0_MS + tick * TICK_MS
        for car in range(TOPSPEED_CARS):
            if rng.random() < 0.5:
                speed[car] = min(100, speed[car] + 5)
            else:
                speed[car] = max(0, speed[car] - 5)
            dist[car] += speed[car] / 3.6
            rows.append((step, car, speed[car], dist[car], t, tick))
    return rows


def write_tsv(path, rows):
    with open(path, "w") as f:
        for r in rows:
            f.write("\t".join(repr(v) if isinstance(v, float) else str(v)
                              for v in r))
            f.write("\n")
