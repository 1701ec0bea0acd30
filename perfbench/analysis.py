"""Turns one harness run's raw records into checks, spans and metrics.

The harness (perfbench.Harness) writes one JSON record per line; the kinds
used here are:

- env, setup, seeded: the machine, the set-up times, the seeded tables;
- pass: one query or rebalance pass (phase, number, start, end, traced);
- query: one query execution (build end t1, action end t2, content fold);
- rebalance: one `rebalanceDatabase` call (rows moved per table, bytes);
- cat: an external-catalog event, with the time it was posted;
- job, job_end, stage, task, sql, sql_plan, sql_end, qe: listener events of
  traced passes;
- table_in, table_out, shard, residue, jvm: end-of-run checks and totals.
"""
import benchlib as bl

OWNERS = ("ops.build", "sql.action", "rebalance.write", "rebalance.table")
SHARDS = 8  # output shards per rebalanced table, as in perfbench.Harness


class Run:
    """The records of one harness run, grouped by kind."""

    def __init__(self, recs):
        self.by = {}
        for r in recs:
            self.by.setdefault(r["k"], []).append(r)

    def of(self, kind):
        return self.by.get(kind, [])

    def one(self, kind):
        xs = self.of(kind)
        return xs[0] if xs else {}

    def passes(self, phase):
        return [p for p in self.of("pass") if p["phase"] == phase]

    def within(self, kind, t0, t1, key="t0"):
        return [r for r in self.of(kind) if r.get(key) is not None and t0 <= r[key] <= t1]

    def catalog(self, t0, t1):
        return [e for e in self.of("cat") if t0 <= e["t"] <= t1]

    def tables(self, r):
        """Per-table steps of one rebalance pass (see benchlib.table_steps)."""
        return bl.table_steps(self.catalog(r["t0"], r["t1"]), r["t0"])


def main_phase(spec):
    return "query" if spec.get("queries") else "rebalance"


def warm(passes):
    """Passes after the cold first one that ran untraced."""
    return [p for p in passes if p["pass"] > 1 and not p["traced"]]


def traced(passes):
    """Traced passes, warm ones preferred."""
    return [p for p in passes if p["traced"] and p["pass"] > 1] or \
        [p for p in passes if p["traced"]]


def measured_rebalances(run, spec):
    """Untraced rebalance passes behind the rebalance metrics: the warm ones
    of a rebalance workload, and every pass of a query workload's trailing
    rebalance of its fixture catalog (that JVM is warm already)."""
    off = {p["pass"] for p in run.passes("rebalance") if not p["traced"]}
    reb = [r for r in run.of("rebalance") if r["pass"] in off and not r["error"]]
    return reb if spec.get("queries") else [r for r in reb if r["pass"] > 1]


# ---------------------------------------------------------------- spans

def spans(run):
    """The run's span tree. Queries hold their `ops.build` and `sql.action`;
    rebalance tables hold their write, swap and drop steps; a job's parent is
    the innermost of those that was open when it started, and a stage's
    parent is its job. Each span carries the request id of its query or
    table (`name#pass`)."""
    out = []

    def add(sid, name, iv, parent, req):
        out.append({"id": sid, "name": name, "start": iv[0], "end": iv[1],
                    "parent": parent, "req": req})

    for q in run.of("query"):
        req = f"{q['name']}#{q['pass']}"
        add(f"query:{req}", "query", (q["t0"], q["t2"]), None, req)
        add(f"ops.build:{req}", "ops.build", (q["t0"], q["t1"]), f"query:{req}", req)
        add(f"sql.action:{req}", "sql.action", (q["t1"], q["t2"]), f"query:{req}", req)
    sql_end = {s["id"]: s["t1"] for s in run.of("sql_end")}
    for r in run.of("rebalance"):
        execs = [(s["t0"], sql_end.get(s["id"], s["t0"])) for s in run.within("sql", r["t0"], r["t1"])]

        def statement(a, b):
            """Widens a catalog operation to the SQL statements around it
            (traced runs only: untraced runs have no SQL-execution events)."""
            lo = [e for e in execs if e[0] <= a <= e[1]]
            hi = [e for e in execs if e[0] <= b <= e[1]]
            return (lo[0][0] if lo else a, hi[0][1] if hi else b)

        for t, st in run.tables(r).items():
            req = f"{t}#{r['pass']}"
            tid = f"rebalance.table:{req}"
            add(tid, "rebalance.table", st["span"], None, req)
            # the shadow write: the longest SQL execution inside the table's span
            inside = [e for e in execs if st["span"][0] <= e[0] and e[1] <= st["span"][1]]
            if inside:
                add(f"rebalance.write:{req}", "rebalance.write",
                    max(inside, key=lambda e: e[1] - e[0]), tid, req)
            add(f"rebalance.swap:{req}", "rebalance.swap", statement(*st["swap"]), tid, req)
            add(f"rebalance.drop:{req}", "rebalance.drop", statement(*st["drop"]), tid, req)
    owners = [s for s in out if s["name"] in OWNERS]
    job_end = {j["id"]: j["t1"] for j in run.of("job_end")}
    job_of_stage = {}
    for j in run.of("job"):
        inner = [s for s in owners if s["start"] <= j["t0"] < s["end"]]
        own = min(inner, key=lambda s: s["end"] - s["start"]) if inner else None
        add(f"job:{j['id']}", "job", (j["t0"], job_end.get(j["id"], j["t0"])),
            own and own["id"], own["req"] if own else j["req"])
        for s in j["stages"]:
            job_of_stage.setdefault(s, j["id"])
    for s in run.of("stage"):
        if s.get("t0") is not None and s["id"] in job_of_stage:
            add(f"stage:{s['id']}.{s['attempt']}", "stage", (s["t0"], s["t1"]),
                f"job:{job_of_stage[s['id']]}", None)
    return out


def self_times(all_spans, intervals):
    """Total self time per span name, over spans starting in `intervals`."""
    children = {}
    for s in all_spans:
        if s["parent"]:
            children.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in all_spans:
        if any(a <= s["start"] <= b for a, b in intervals):
            v = bl.self_time((s["start"], s["end"]), children.get(s["id"], []))
            out[s["name"]] = out.get(s["name"], 0.0) + v
    return out


# ---------------------------------------------------------------- metrics

def end_to_end(run, spec):
    """The end-to-end metrics of an untraced run, plus how each percentile
    was taken (the percentile used and its sample count)."""
    m, info = {}, {}
    setup = run.one("setup")
    m["setup_s"] = (setup["session_ms"] + bl.median(setup["seed_ms"])) / 1000
    reb = measured_rebalances(run, spec)
    if spec.get("queries"):
        qs = run.of("query")
        per_pass = {}
        for q in qs:
            per_pass.setdefault(q["pass"], []).append(q["t2"] - q["t0"])
        warm_ids = [p["pass"] for p in warm(run.passes("query"))]
        lat = [x for p in warm_ids for x in per_pass[p]]
        m["cold_total_s"] = sum(per_pass[1]) / 1000
        m["warm_total_s"] = bl.median([sum(per_pass[p]) for p in warm_ids]) / 1000
    else:
        m["cold_total_s"] = next((r["t1"] - r["t0"]) for r in run.of("rebalance") if r["pass"] == 1) / 1000
        m["warm_total_s"] = bl.median([r["t1"] - r["t0"] for r in reb]) / 1000
        lat = [s["span"][1] - s["span"][0] for r in reb for s in run.tables(r).values()]
    for name, target in (("query_p50_s", 0.5), ("query_p90_s", 0.9)):
        p, v, n = bl.tail_percentile(lat, target)
        m[name] = v / 1000
        info[name] = {"percentile": p, "n": n}
    walls = [(r["t1"] - r["t0"]) / 1000 for r in reb]
    m["rows_per_s"] = bl.median([sum(r["moved"].values()) / w for r, w in zip(reb, walls)])
    m["tables_per_s"] = bl.median([len(r["moved"]) / w for r, w in zip(reb, walls)])
    win = [s["window"][1] - s["window"][0] for r in reb for s in run.tables(r).values() if "window" in s]
    for name, target in (("swap_window_p50_ms", 0.5), ("swap_window_p90_ms", 0.9)):
        p, v, n = bl.tail_percentile(win, target)
        m[name] = v
        info[name] = {"percentile": p, "n": n}
    seeded = sum(t["bytes"] for t in run.of("seeded"))
    m["bytes_written_per_byte"] = bl.median([r["bytes_out"] for r in reb]) / seeded
    m["shard_skew"] = shard_skew(run)
    m["peak_rss_mb"] = run.one("jvm")["peak_rss_kb"] / 1024
    info["rows_per_s"] = {"passes": len(reb), "rows_per_pass": bl.median([sum(r["moved"].values()) for r in reb]),
                          "seeded_bytes": seeded}
    return m, info


def per_layer(run, spec):
    """The traced run's per-layer metrics, per traced pass of the main phase
    (the warm one; the cold one when no warm pass was traced)."""
    m = {}
    tq = traced(run.passes(main_phase(spec)))
    k = len(tq)
    ivs = [(p["t0"], p["t1"]) for p in tq]
    all_spans = spans(run)

    def in_passes(kind, key="t0"):
        return [r for a, b in ivs for r in run.within(kind, a, b, key)]

    jobs = in_passes("job")
    stage_ids = {s for j in jobs for s in j["stages"]}
    stages = [s for s in run.of("stage") if s["id"] in stage_ids and s.get("t0") is not None]
    tasks = in_passes("task")
    sqls = in_passes("sql")
    final_plan = {s["id"]: s["exchanges"] for s in run.of("sql") + run.of("sql_plan")}
    phases = in_passes("qe", key="t")
    builds = [s for s in all_spans if s["name"] == "ops.build" and any(a <= s["start"] <= b for a, b in ivs)]
    build_ids = {s["id"] for s in builds}

    def stage_sum(field, scale=1.0):
        return sum(s.get(field, 0) for s in stages) * scale / k

    task_iv = [(t["t0"], t["t1"]) for t in tasks]
    wall = sum(b - a for a, b in ivs)
    m.update({
        "ops.build_ms": sum(s["end"] - s["start"] for s in builds) / k,
        "ops.build_cold_ms": sum(q["t1"] - q["t0"] for q in run.of("query") if q["pass"] == 1),
        "ops.build_jobs": sum(1 for s in all_spans if s["name"] == "job" and s["parent"] in build_ids) / k,
        "sql.analysis_ms": sum(q["phases"].get("analysis", 0) for q in phases) / k,
        "sql.optimization_ms": sum(q["phases"].get("optimization", 0) for q in phases) / k,
        "sql.planning_ms": sum(q["phases"].get("planning", 0) for q in phases) / k,
        "sql.executions": len(sqls) / k,
        "sql.exchanges": sum(final_plan.get(s["id"], 0) for s in sqls) / len(sqls) if sqls else 0.0,
        "exec.jobs": len(jobs) / k,
        "exec.stages": len(stages) / k,
        "exec.tasks": len(tasks) / k,
        "exec.task_run_ms": stage_sum("run_ms"),
        "exec.task_cpu_ms": stage_sum("cpu_ns", 1e-6),
        "exec.gc_ms": stage_sum("gc_ms"),
        "exec.sched_delay_ms": sum(t["sched_ms"] for t in tasks) / k,
        "exec.driver_only_ms": sum((b - a) - bl.covered(task_iv, a, b) for a, b in ivs) / k,
        "exec.slot_busy_frac": sum(b - a for a, b in task_iv) / (4 * wall) if wall else 0.0,
        "exec.shuffle_write_bytes": stage_sum("shuffle_write_bytes"),
        "exec.shuffle_read_bytes": stage_sum("shuffle_read_bytes"),
        "exec.spill_bytes": stage_sum("spill_bytes"),
        "exec.result_bytes": stage_sum("result_bytes"),
        "exec.output_bytes": stage_sum("output_bytes"),
        "exec.failed_tasks": sum(1 for t in tasks if t["failed"]) / k,
    })
    selfs = self_times(all_spans, ivs)
    for name in ("ops.build", "sql.action", "job", "stage"):
        m[f"self.{name.replace('.', '_')}_ms"] = selfs.get(name, 0.0) / k
    m.update(rebalance_layer(run, all_spans))
    jvm = run.one("jvm")
    m["jvm.jit_ms"], m["jvm.gc_ms"], m["jvm.classes_loaded"] = jvm["jit_ms"], jvm["gc_ms"], jvm["classes_loaded"]
    m["trace.overhead_frac"] = overhead(run, spec)
    return m


def rebalance_layer(run, all_spans):
    """The rebalance and catalog layers, per traced rebalance pass."""
    tp = {p["pass"] for p in traced(run.passes("rebalance"))}
    reb = [r for r in run.of("rebalance") if r["pass"] in tp and not r["error"]]
    n = max(1, len(reb))
    ivs = [(r["t0"], r["t1"]) for r in reb]
    mine = [s for s in all_spans if any(a <= s["start"] <= b for a, b in ivs)]

    def total(name):
        return sum(s["end"] - s["start"] for s in mine if s["name"] == name)

    tables = sum(len(r["moved"]) for r in reb) or 1
    stages = [s for a, b in ivs for s in run.within("stage", a, b)]
    cat = [e for a, b in ivs for e in run.catalog(a, b)]
    pre, rename, drop = {}, 0.0, 0.0
    for e in cat:
        if e["ev"].endswith("PreEvent"):
            pre[(e["ev"][: -len("PreEvent")], e["name"])] = e["t"]
        elif e["ev"] in ("RenameTableEvent", "DropTableEvent"):
            d = e["t"] - pre.get((e["ev"][: -len("Event")], e["name"]), e["t"])
            rename, drop = (rename + d, drop) if e["ev"] == "RenameTableEvent" else (rename, drop + d)
    ops = sum(1 for e in cat if e["ev"] in ("CreateTableEvent", "RenameTableEvent", "DropTableEvent"))
    selfs = self_times(all_spans, ivs)
    return {
        "rebalance.write_ms": total("rebalance.write") / n,
        "rebalance.swap_ms": total("rebalance.swap") / n,
        "rebalance.drop_ms": total("rebalance.drop") / n,
        "rebalance.table_overhead_ms": (total("rebalance.table") - total("rebalance.write")) / n,
        "rebalance.rows": sum(sum(r["moved"].values()) for r in reb) / n,
        "rebalance.bytes_written": sum(r["bytes_out"] for r in reb) / n,
        "rebalance.files_written": sum(r["files_out"] for r in reb) / n,
        "rebalance.shuffle_bytes": sum(s.get("shuffle_write_bytes", 0) for s in stages) / n,
        "rebalance.jobs_per_table": sum(len(run.within("job", a, b)) for a, b in ivs) / tables,
        "catalog.ops": ops / n,
        "catalog.ops_per_table": ops / tables,
        "catalog.rename_ms": rename / n,
        "catalog.drop_ms": drop / n,
        "self.rebalance_table_ms": selfs.get("rebalance.table", 0.0) / n,
    }


def overhead(run, spec):
    """Tracing overhead: the traced warm pass against the untraced warm
    passes around it, as a fraction of the untraced time (warm total for
    queries, pass wall for rebalances)."""
    passes = run.passes(main_phase(spec))
    if spec.get("queries"):
        def cost(p):
            return sum(q["t2"] - q["t0"] for q in run.of("query") if q["pass"] == p["pass"])
    else:
        def cost(p):
            return p["t1"] - p["t0"]
    on = [cost(p) for p in passes if p["traced"] and p["pass"] > 1]
    off = [cost(p) for p in warm(passes)]
    return bl.median(on) / bl.median(off) - 1 if on and off else 0.0


# ---------------------------------------------------------------- checks

def shards(run):
    """Per table, per output file: [rows, hash buckets in the file]."""
    out = {}
    for s in run.of("shard"):
        f = out.setdefault(s["name"], {}).setdefault(s["file"], [0, 0])
        f[0] += s["rows"]
        f[1] += 1
    return out


def shard_skew(run):
    """Rows per output shard, max over mean, of the largest table."""
    largest = max(run.of("table_out"), key=lambda t: (t["rows"], t["name"]))["name"]
    rows = [f[0] for f in shards(run)[largest].values()]
    return max(rows) / (sum(rows) / len(rows))


def key_skew(run):
    """Per table: distinct shard keys and the hottest key's rows."""
    out = {}
    for s in run.of("shard"):
        k = out.setdefault(s["name"], {"distinct_keys": 0, "top_key_rows": 0})
        k["distinct_keys"] += s["keys"]
        k["top_key_rows"] = max(k["top_key_rows"], s["top_key_rows"])
    return out


def checks(run, spec, expected):
    """Every correctness check of the run, as (what, ok) pairs."""
    out = []
    exp = expected.get("queries", {})
    rowcount_only = expected.get("row_count_only", {})
    for q in run.of("query"):
        what = f"query {q['name']} pass {q['pass']}"
        e = exp.get(q["name"])
        if q["error"] or e is None:
            out.append((what + (f": {q['error']}" if q["error"] else ": no expected value"), False))
        elif q["name"] in rowcount_only:
            out.append((what + " rows", q["rows"] == e["rows"]))
        else:
            out.append((what + " fold", [q["rows"], q["hi"], q["lo"]] == [e["rows"], e["hi"], e["lo"]]))
    tin = {t["name"]: t for t in run.of("table_in")}
    tout = {t["name"]: t for t in run.of("table_out")}
    for r in run.of("rebalance"):
        if r["error"]:
            out.append((f"rebalance pass {r['pass']}: {r['error']}", False))
            continue
        for t, n in sorted(r["moved"].items()):
            out.append((f"rebalance pass {r['pass']} {t}: rows in == rows moved",
                        t in tin and tin[t]["rows"] == n))
    layout = shards(run)
    for t, a in sorted(tin.items()):
        b = tout.get(t)
        out.append((f"table {t}: content fold unchanged",
                    b is not None and [a["rows"], a["hi"], a["lo"]] == [b["rows"], b["hi"], b["lo"]]))
        files = layout.get(t, {})
        buckets = {s["bucket"] for s in run.of("shard") if s["name"] == t}
        # small fixture tables have fewer distinct keys than shards
        want = len(buckets) if spec.get("queries") else SHARDS
        out.append((f"table {t}: {len(files)} shards of one hash bucket each, {want} expected",
                    len(files) == want == len(buckets) and all(f[1] == 1 for f in files.values())))
    out.append(("no __v/__old residue", run.one("residue").get("names") == []))
    if run.of("fatal"):
        out.append((f"harness: {run.one('fatal')['error']}", False))
    return out
