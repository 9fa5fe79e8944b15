"""`ts_query`: ZestQL reads against a bulk-loaded durable store.

Set-up: a seeded `events` table (100k rows, 5 series x 30 days) is
bulk-loaded through the program's own write path (`TsStorage.write` of
`TsModel.ts`, plus one blob series from `TsModel.tsBlob`), then
`graft.server.WireMain` serves the store with auth on.

Load: two JSON-lines clients in closed loops. Every round of a client is
13 requests: nine seeded GETs from the FIXTURES.md A5 matrix (selector x
filter x aggregate, single- and multi-series, one blob read), then a
`POST /ts/<own>/at/<t>` into the client's own series and three reads of
that series (`range` and `since/.../count` over the new row, `latest`).

Known fault kept in the mix: rows POSTed through the engine after a bulk
load whose frame carries `ts_raw` are invisible to `since`/`range` reads
(`TsOps.sinceCond`/`untilCond` filter on `ts_raw`, null for appended
rows). The two own-series window reads of every round hit it, so exactly
2 of every 13 operations fail, whatever the seed and the run length.
"""
import json
import random

import datagen
import zestql_model as zm
from common import (WireMain, client_ops, drive, median, percentile, read_ops, read_spans,
                    request_of, run_java)

SERIES = datagen.EVENT_TYPES
BLOB_SERIES = "view"
T0 = datagen.EVENTS_T0_US // 1000
SPAN = datagen.EVENTS_SPAN_US // 1000
HOUR = 3600 * 1000
DAY = 24 * HOUR
TOKEN_KEY = "perfbench-secret"
CLIENTS = 2
ROUNDS = 400  # more than any run can use; Drive reports exhaustion
# own-series posts: fixed inputs, independent of the seed
OWN_T0 = T0 + 40 * DAY
FAILING = (10, 11)  # indexes of the own-series window reads in a round


def own_series(c):
    return f"own_c{c}"


def own_post(c, r):
    """The r-th own-series write of client c: (t, value, tag)."""
    return OWN_T0 + c * 10 ** 9 + r * 1000, r + 0.5, str(r % 10)


def _ids(rng, lo, hi):
    return ",".join(rng.sample(SERIES, rng.randint(lo, hi)))


def _filter(rng):
    op = rng.choice(["equals", "contains"])
    v = str(rng.randrange(100)) if op == "equals" else str(rng.randrange(10))
    return f"filter/k/{op}/{v}"


def seeded_gets(rng):
    """The nine seeded GETs of one round, one per cell family of the A5
    matrix, so every round has the same make-up."""
    agg = lambda: rng.choice(zm.AGGS)
    t_since = T0 + SPAN - rng.randint(1, 3 * 24) * HOUR
    r1 = T0 + rng.randrange(SPAN - 6 * HOUR)
    r2 = T0 + rng.randrange(SPAN - 6 * HOUR)
    return [
        f"/ts/{_ids(rng, 1, 2)}/latest",
        f"/ts/{_ids(rng, 2, 3)}/last/{rng.randint(5, 100)}/{_filter(rng)}",
        f"/ts/{_ids(rng, 1, 1)}/first/{rng.randint(5, 100)}/{agg()}",
        f"/ts/{_ids(rng, 1, 3)}/since/{t_since}/{agg()}",
        f"/ts/{_ids(rng, 1, 1)}/range/{r1}/{r1 + rng.randint(1, 6) * HOUR}",
        f"/ts/{_ids(rng, 1, 2)}/range/{r2}/{r2 + rng.randint(1, 48) * HOUR}/"
        f"{_filter(rng)}/{agg()}",
        f"/ts/{_ids(rng, 1, 3)}/length",
        f"/ts/{_ids(rng, 2, 3)}/earliest/{_filter(rng)}",
        f"/ts/blob/{BLOB_SERIES}/last/{rng.randint(1, 20)}",
    ]


def get(path):
    return {"verb": "GET", "path": path, "payload": "", "format": "json"}


def client_rounds(seed, c):
    rng = random.Random(f"ts_query:{seed}:{c}")
    own = own_series(c)
    rounds = []
    for r in range(ROUNDS):
        t, v, k = own_post(c, r)
        rounds.append([get(p) for p in seeded_gets(rng)] + [
            {"verb": "POST", "path": f"/ts/{own}/at/{t}",
             "payload": f'{{"value": {v}, "k": "{k}"}}', "format": "json"},
            get(f"/ts/{own}/range/{t}/{t + 10}"),
            get(f"/ts/{own}/since/{OWN_T0}/count"),
            get(f"/ts/{own}/latest"),
        ])
    return rounds


def warmup_rounds(seed, c):
    rng = random.Random(f"ts_query-warm:{seed}:{c}")
    return [[get(p) for p in seeded_gets(rng)]]


def check(store, spec, ops):
    """Replay every acknowledged request against the model, in each
    client's own order. Returns (wrong, failed): `failed` counts the
    own-series window reads that come back exactly as the known fault
    predicts (the posted rows missing); `wrong` lists anything else."""
    wrong, failed = [], 0
    for c in range(CLIENTS):
        own = own_series(c)
        for o in client_ops(ops, c):
            req = request_of(spec, o)
            if not o["ok"]:
                wrong.append((req["path"], "not acknowledged", o["body"][:200]))
                continue
            if req["verb"] == "POST":
                t, v, k = own_post(c, o["r"])
                # posted rows come after every loaded event id
                store.series(own).add(t, 10 ** 12 + o["r"], v, ("k", k))
                continue
            exp = zm.answer(store, req["path"])
            got = json.loads(o["body"])
            if zm.matches(exp, got):
                continue
            # the fault's answer: the own series as if nothing was posted
            if not o["warm"] and o["i"] in FAILING and \
                    zm.matches(zm.answer(zm.Store(), req["path"]), got):
                failed += 1
                continue
            wrong.append((req["path"], str(exp)[:200], o["body"][:200]))
    return wrong, failed


def run(ctx):
    """One run: set-up, the measured closed loops, the check, and with
    tracing on the per-layer replay."""
    sc, procs, seed = ctx.scratch, ctx.procs, ctx.seed
    t_setup = ctx.clock()
    data = sc.sub("data")
    table = datagen.write_events(data, seed)
    store_dir = sc.sub("store")
    run_java(procs, sc, "perfbench.Load",
             [data, store_dir, BLOB_SERIES, sc.file("load.json")], "load")
    wm = WireMain(procs, sc, store_dir, TOKEN_KEY)
    info = wm.wait_up()
    spec = {"token_key": TOKEN_KEY, "seconds": ctx.seconds,
            "json_port": info["port"],
            "clients": [{"kind": "json", "warmup": warmup_rounds(seed, c),
                         "rounds": client_rounds(seed, c)} for c in range(CLIENTS)]}
    ctx.write_json("spec.json", spec)
    drive(procs, sc, "spec.json", "ops.jsonl")
    wm.stop()
    header, ops, _ = read_ops(sc.file("ops.jsonl"))
    # set-up = bulk load + server start and recovery + warm-up rounds
    setup_s = header["start_epoch_ms"] / 1000.0 - t_setup
    if header["exhausted"]:
        raise RuntimeError("ts_query: request rounds exhausted; raise ROUNDS")
    model = zm.store_from_events(table, BLOB_SERIES)
    wrong, failed = check(model, spec, ops)
    measured = [o for o in ops if not o["warm"]]
    gets = [(o["t1"] - o["t0"]) / 1e6 for o in measured
            if request_of(spec, o)["verb"] == "GET"]
    posts = [(o["t1"] - o["t0"]) / 1e6 for o in measured
             if request_of(spec, o)["verb"] == "POST"]
    res = {
        "correct": not wrong, "wrong": wrong,
        "attempted": len(measured), "failed": failed,
        "setup_s": setup_s,
        "ops_per_s": len(measured) / header["measured_s"],
        "p50_ms": median(gets), "mean_ms": sum(gets) / len(gets),
        "ts_query.get_p95_ms": percentile(gets, 95),
        "ts_query.get_p99_ms": percentile(gets, 99),
        "ts_query.post_p50_ms": median(posts),
    }
    if ctx.trace:
        res.update(traced(ctx, store_dir))
    return res


def traced(ctx, store_dir):
    """Per-layer figures: the store reopened in-process, one client's
    requests replayed with a span around each layer's entry point."""
    sc = ctx.scratch
    prefix = sc.file("trace")
    run_java(ctx.procs, sc, "perfbench.TraceTs",
             [store_dir, TOKEN_KEY, sc.file("spec.json"), ctx.seconds, prefix], "trace")
    spans, notes, res = read_spans(prefix)
    with open(sc.file("load.json")) as f:
        load = json.load(f)
    per_q = res["per_query"]

    def per_query(k):
        return median([q[k] for q in per_q])

    def span(name, scale):
        # a short run may end before the round's own-series write
        return scale * median(spans[name]) if name in spans else 0.0
    return {
        "zestql.parse_us": span("zestql.parse", 1e6),
        "storage.ts_open_ms": span("storage.ts_open", 1e3),
        "query.plan_ms": span("query.plan", 1e3),
        "query.exec_ms": span("query.exec", 1e3),
        "engine.get_ms": span("engine.get", 1e3),
        "engine.post_us": span("engine.post", 1e6),
        "storage.ts_flush_ms": span("storage.ts_flush", 1e3),
        "storage.flushes": len(spans.get("storage.ts_flush", [])),
        "storage.files_per_flush": median(notes.get("storage.files_per_flush", [0])),
        "storage.ts_files": median(res["ts_files"]),
        "storage.ts_partitions": median(res["ts_partitions"]),
        "storage.bulk_load_s": load["ts_write_s"] + load["blob_write_s"],
        "engine.restart_s": res["engine.restart_s"],
        "spark.jobs_per_query": per_query("jobs"),
        "spark.stages_per_query": per_query("stages"),
        "spark.tasks_per_query": per_query("tasks"),
        "spark.files_read_per_query": per_query("files"),
        "spark.bytes_read_per_query": per_query("input_bytes"),
    }
