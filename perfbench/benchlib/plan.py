"""Seeded plan generation.

The seed picks every operation order and every generated parameter; the
tables are the vendored parquet files and do not depend on it. A plan is a
JSON document that the JVM side (graftbench.Main) executes:

  ops      id -> {"kind": "entry"|"sql"|"build", "name": ..., "sql": ...}
  warmup   the untimed pass ({"dir", "ops", "dump"})
  units    the timed region: a list of units (block, cycle or round), each
           a list of segments {"tag", "release", "ops"}; the JVM runs whole
           units, cycling through the list, until the run's seconds have
           passed
  check    an optional untimed pass after the timed region
  expect   op id -> DuckDB SQL whose result the op's output must match
           (generated connector queries only; entries use their oracles)
"""
import random
from datetime import datetime, timedelta

# NumbersTable's row function: every column is a pure function of the key,
# so DuckDB reproduces any key range with range().
NUM_COLS = {
    "x": "(i * 7) % 97",
    "s": "'row_' || i",
    "ratio": "i / 100.0",
}
BASE_TS = datetime(2024, 1, 1)


def _ts(i):
    return (BASE_TS + timedelta(minutes=i)).strftime("%Y-%m-%d %H:%M:%S")


def connector_query(kind, rng, n):
    """One generated connector query: (Spark SQL, DuckDB SQL over range())."""
    if kind == "range_agg":
        w = 300_000
        lo = rng.randrange(0, n - w)
        return (f"SELECT count(*) AS n, sum(x) AS sx, min(s) AS mn "
                f"FROM graft.bench.numbers WHERE id >= {lo} AND id < {lo + w}",
                f"SELECT count(*) AS n, sum({NUM_COLS['x']}) AS sx, "
                f"min({NUM_COLS['s']}) AS mn FROM range({lo}, {lo + w}) t(i)")
    if kind == "ts_window":
        w = 150_000
        lo = rng.randrange(0, n - w)
        return (f"SELECT count(*) AS n, sum(x) AS sx, max(ratio) AS mr "
                f"FROM graft.bench.numbers WHERE ts >= TIMESTAMP_NTZ '{_ts(lo)}' "
                f"AND ts < TIMESTAMP_NTZ '{_ts(lo + w)}'",
                f"SELECT count(*) AS n, sum({NUM_COLS['x']}) AS sx, "
                f"max({NUM_COLS['ratio']}) AS mr FROM range({lo}, {lo + w}) t(i)")
    if kind == "in_list":
        ids = sorted(rng.sample(range(n), 20))
        lst = ", ".join(map(str, ids))
        return (f"SELECT id, x, s FROM graft.seq.numbers WHERE id IN ({lst})",
                f"SELECT i AS id, {NUM_COLS['x']} AS x, {NUM_COLS['s']} AS s "
                f"FROM (SELECT unnest([{lst}]) AS i)")
    if kind == "like_prefix":
        p = str(rng.randrange(100, 400))
        # startswith, not LIKE 'row_..%': the '_' of the key prefix is a
        # LIKE wildcard, which Spark does not push down as a prefix
        return (f"SELECT count(*) AS n, sum(x) AS sx FROM graft.seq.numbers "
                f"WHERE startswith(s, 'row_{p}')",
                f"SELECT count(*) AS n, sum({NUM_COLS['x']}) AS sx "
                f"FROM range(0, {n}) t(i) WHERE {NUM_COLS['s']} LIKE 'row_{p}%'")
    if kind == "topn_offset":
        lo = rng.randrange(0, n // 2)
        off = rng.randrange(0, 1000)
        return (f"SELECT id, x FROM graft.bench.numbers WHERE id >= {lo} "
                f"ORDER BY id DESC LIMIT 25 OFFSET {off}",
                f"SELECT i AS id, {NUM_COLS['x']} AS x FROM range({lo}, {n}) t(i) "
                f"ORDER BY i DESC LIMIT 25 OFFSET {off}")
    if kind == "agg_pushdown":
        lo = rng.randrange(0, n // 2)
        hi = lo + 500_000
        return (f"SELECT count(*) AS n, min(id) AS lo, max(id) AS hi "
                f"FROM graft.seq.numbers WHERE id >= {lo} AND id < {hi}",
                f"SELECT count(*) AS n, min(i) AS lo, max(i) AS hi "
                f"FROM range({lo}, {hi}) t(i)")
    if kind == "dim_join":
        r = rng.randrange(0, 5)
        return (f"SELECT s.id, s.x, n.n_name FROM graft.seq.numbers s "
                f"JOIN nation n ON s.id = n.n_nationkey WHERE n.n_regionkey = {r}",
                f"SELECT i AS id, {NUM_COLS['x']} AS x, n_name FROM range(0, {n}) t(i) "
                f"JOIN nation ON i = n_nationkey WHERE n_regionkey = {r}")
    if kind == "series":
        sid = rng.randrange(1, 50)
        lo = rng.randrange(0, 8000)
        hi = lo + 2000
        v = f"((t * t * 31 + {sid} * 17) % 1000) / 10.0"
        return (f"SELECT count(*) AS n, sum(t) AS st, max(value) AS mv "
                f"FROM graft.metrics.series WHERE series_id = {sid} "
                f"AND t >= {lo} AND t < {hi}",
                f"SELECT count(*) AS n, sum(t) AS st, max({v}) AS mv "
                f"FROM range({lo}, {hi}) r(t)")
    if kind == "users":
        lo = rng.randrange(0, 300)
        hi = lo + 200
        return (f"SELECT org, count(*) AS n, max(score) AS ms FROM graft.rest.users "
                f"WHERE id >= {lo} AND id < {hi} GROUP BY org",
                f"SELECT i % 7 AS org, count(*) AS n, max(i / 100.0) AS ms "
                f"FROM range({lo}, {hi}) t(i) GROUP BY i % 7")
    raise ValueError(f"unknown connector template {kind}")


def _entry(name):
    return {"kind": "entry", "name": name}


def _interactive(w, rng, plan):
    c = w["connector"]
    block = list(w["relational"] + w["memo_reads"])
    ops = {name: _entry(name) for name in block}
    expect, fresh = {}, []
    for kind, count in c["templates"].items():
        for k in range(count):
            oid = f"{kind}.{k}"
            spark_sql, duck_sql = connector_query(kind, rng, c["n"])
            ops[oid] = {"kind": "sql", "name": kind, "sql": spark_sql}
            expect[oid] = duck_sql
            fresh.append(oid)
    block += fresh
    rng.shuffle(block)
    distinct = list(block)
    # a dashboard refresh: the exact query again, within a few queries of
    # its first run, so the pages it fetched are still cached
    for kind in c["repeats"]:
        oid = rng.choice([o for o in fresh if ops[o]["name"] == kind])
        first = block.index(oid)
        block.insert(min(len(block), first + 1 + rng.randrange(4)), oid)
    plan.update(ops=ops, expect=expect,
                units=[[{"tag": "block", "release": False, "ops": block}]],
                warmup={"dir": plan["data_dir"], "ops": distinct, "dump": True},
                connector={
                    "standin_delay_ms": c["standin_delay_ms"],
                    "configure": {
                        p: f'{{"n": {c["n"]}, "page_size": {c["page_size"]}}}'
                        for p in ("seq", "bench")}},
                page_size=c["page_size"])


def _curation(w, rng, plan, warm_dir):
    ops = {b: {"kind": "build", "name": b} for b in w["builds"]}
    ops.update({name: _entry(name) for name in w["consumers"]})
    builds = list(w["builds"])
    rng.shuffle(builds)
    cold = list(w["consumers"])
    rng.shuffle(cold)
    warm = list(w["consumers"])
    rng.shuffle(warm)
    plan.update(
        ops=ops, expect={},
        units=[[{"tag": "cold", "release": True, "ops": builds + cold},
                {"tag": "warm", "release": False, "ops": warm}]],
        warmup={"dir": warm_dir, "ops": builds + cold, "dump": False},
        release_after_warmup=True,
        check={"dir": plan["data_dir"], "ops": warm, "dump": True})


def _stream(w, rng, plan):
    ops = {name: _entry(name) for name in w["replays"]}
    order = list(w["replays"])
    rng.shuffle(order)
    plan.update(ops=ops, expect={},
                units=[[{"tag": "round", "release": False, "ops": order}]],
                warmup={"dir": plan["data_dir"], "ops": order, "dump": True})


def make_plan(cfg, workload, seed, seconds, trace, cpus, data_dir, warm_dir,
              out_dir, scratch_dir):
    """The plan for one run. Same arguments, same plan."""
    w = cfg["workloads"][workload]
    rng = random.Random(f"{workload}/{seed}")
    plan = {
        "workload": workload, "seed": seed, "seconds": seconds, "trace": trace,
        "cpus": cpus, "setups": cfg["setups"], "data_dir": data_dir,
        "out_dir": out_dir, "scratch_dir": scratch_dir,
        "tables": w["tables"], "setup_builds": w["setup_builds"],
        "connector": None, "check": None, "release_after_warmup": False,
    }
    if workload == "interactive":
        _interactive(w, rng, plan)
    elif workload == "curation_batch":
        _curation(w, rng, plan, warm_dir)
    elif workload == "stream_replay":
        _stream(w, rng, plan)
    else:
        raise ValueError(f"unknown workload {workload}")
    return plan
