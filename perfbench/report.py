"""Turns the driver's raw record of one run into the reported metrics.

Pure functions over plain data, so the tests can feed them synthetic runs.
"""
import json
import os

from stats import covered, highest_tail, median, percentile, self_times

HERE = os.path.dirname(os.path.abspath(__file__))

# The five trainers, by the metric that carries their time.
TRAINERS = {
    "train_kmeans_s": "p106",
    "train_bpe_s": "p110",
    "train_pq_s": "p117",
    "train_kmeans_sampled_s": "p135",
    "index_rebuild_s": "p139",
}

# Span kinds below an execution whose self time is reported.
SELF_KINDS = ("build", "materialize", "plan", "job", "stage")

# A first timed execution this many times slower than the query's later
# ones, and at least MEMO_FLOOR_S slower, reads as a memo it filled.
MEMO_RATIO = 3.0
MEMO_FLOOR_S = 0.25


def declared():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        return json.load(f)


def by_query(executions):
    out = {}
    for e in executions:
        out.setdefault(e["query"], []).append(e)
    return out


def suite(executions, field="wall_s"):
    """Sum over queries of each query's median `field`."""
    return sum(median([e[field] for e in es]) for es in by_query(executions).values())


def memo_suspects(executions):
    """Queries whose first timed execution is far slower than the median of
    their later ones."""
    out = []
    for q, es in by_query(executions).items():
        es = sorted(es, key=lambda e: e["seq"])
        if len(es) < 2:
            continue
        first, rest = es[0]["wall_s"], median([e["wall_s"] for e in es[1:]])
        if first > MEMO_RATIO * rest and first - rest > MEMO_FLOOR_S:
            out.append(q)
    return sorted(out)


def memo_hits(executions):
    """Fresh-context executions that cannot have done the full work: one
    that shares a SparkContext with an earlier execution, or one that
    finished in under a third of its query's slowest execution."""
    hits = []
    seen = set()
    for e in executions:
        if e["app"] in seen:
            hits.append(f"{e['query']}@{e['seq']}: reused context {e['app']}")
        seen.add(e["app"])
    for q, es in by_query(executions).items():
        slowest = max(e["wall_s"] for e in es)
        hits += [f"{q}@{e['seq']}: {e['wall_s']:.3f} s vs {slowest:.3f} s"
                 for e in es if e["wall_s"] < slowest / MEMO_RATIO]
    return hits


def trainer_medians(executions):
    """Median wall time of each trainer present in the run, else 0."""
    groups = by_query(executions)
    out = {}
    for metric, prefix in TRAINERS.items():
        es = [e for q, g in groups.items() if q.split("_")[0] == prefix for e in g]
        out[metric] = median([e["wall_s"] for e in es]) if es else 0.0
    return out


def annotate(traced, spans):
    """Add each traced execution's stage span and the self time of each
    span kind below it, all in seconds."""
    own = self_times(spans)
    stages, kinds = {}, {}
    for s in spans:
        if s["kind"] == "stage":
            stages.setdefault(s["exec"], []).append((s["start_ms"], s["end_ms"]))
        k = kinds.setdefault(s["exec"], {})
        k[s["kind"]] = k.get(s["kind"], 0.0) + own[s["id"]]
    for e in traced:
        key = f"{e['query']}@{e['seq']}"
        e["span_s"] = covered(stages.get(key, [])) / 1e3
        e["orchestration_s"] = e["wall_s"] - e["span_s"]
        for kind in SELF_KINDS:
            e[f"self_{kind}_s"] = kinds.get(key, {}).get(kind, 0.0) / 1e3


def timed(raw):
    """Executions that count toward the timings: not the warm pass and not
    the lead-ins."""
    return [e for e in raw["executions"] if not e["warm"]]


def per_query(raw):
    """Median wall time of each query over its untraced timed executions."""
    execs = [e for e in timed(raw) if not e["traced"]]
    return [median([e["wall_s"] for e in es]) for es in by_query(execs).values()]


def tail(raw):
    """The highest percentile of untraced timed execution times that has at
    least ten executions beyond it, with the number of executions."""
    walls = [e["wall_s"] for e in timed(raw) if not e["traced"]]
    found = highest_tail(walls)
    return {"executions": len(walls), "p": found[0] if found else None,
            "value_s": found[1] if found else None}


def end_to_end(raw):
    return {
        "suite_s": sum(per_query(raw)),
        "setup_s": median([s["setup_s"] for s in raw["setups"]]),
    }


def per_layer(raw, control, steal_s, failed_frac):
    execs = timed(raw)
    traced = [e for e in execs if e["traced"]]
    untraced = [e for e in execs if not e["traced"]]
    annotate(traced, raw["spans"])
    setups = raw["setups"]
    m = {
        "engine.session_s": median([s["session_s"] for s in setups]),
        "engine.warmup_s": median([s["warmup_s"] for s in setups]),
        "engine.fixture_s": median([s["fixture_s"] for s in setups]),
        "engine.leftover_rdds": suite(traced, "leftover"),
        "queries.build_s": suite(traced, "build_s"),
        "queries.build_jobs": suite(traced, "build_jobs"),
        "queries.memo_suspects": len(memo_suspects(execs)),
        "plans.plan_s": suite(traced, "plan_s"),
        "plans.exchanges": suite(traced, "exchanges"),
        "exec.jobs": suite(traced, "jobs"),
        "exec.stages": suite(traced, "stages"),
        "exec.tasks": suite(traced, "tasks"),
        "exec.task_s": suite(traced, "task_s"),
        "exec.span_s": suite(traced, "span_s"),
        "exec.orchestration_s": suite(traced, "orchestration_s"),
        "exec.task_wait_s": suite(traced, "task_wait_s"),
        "exec.shuffle_mb": suite(traced, "shuffle_mb"),
        "exec.spill_mb": suite(traced, "spill_mb"),
        "exec.gc_s": suite(traced, "gc_s"),
        "exec.task_retries": sum(e["retries"] for e in traced),
        "streaming.batches": suite(traced, "batches"),
        "streaming.batch_s": suite(traced, "batch_s"),
        "host.control_s": max(control),
        "host.steal_s": steal_s,
        "failed_frac": failed_frac,
        "query_p50_s": median(per_query(raw)),
        "query_p90_s": percentile(per_query(raw), 90)[0],
        "trace.overhead_s": suite(traced) - suite(untraced),
    }
    for kind in SELF_KINDS:
        m[f"self.{kind}_s"] = suite(traced, f"self_{kind}_s")
    m.update(trainer_medians(untraced))
    return m


def units():
    d = declared()
    return {x["name"]: x["unit"] for x in d["end_to_end"] + d["per_layer"]}


def result(metrics, correct, attempted, failed):
    u = units()
    return {
        "correct": correct,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u[k]} for k, v in metrics.items()},
    }
