"""The benchmark's workloads, driven through the program's public calls.

Each workload takes a started SparkSession and returns an ``Outcome``:
its end-to-end figures, the operations it attempted and the ones that
raised or failed a correctness gate, and — for the traced run — a
function that turns the parsed event log into per-layer figures.

images_batch   one user session on the images table (closed loop, one
               caller): a from-scratch run in the set-up, then a cold
               run, rerun after a ~5% append, no-change reruns.
images_stream  closed loop, one producer: land one flat parquet file,
               run the catch-up query to termination, repeat.

The run's set-up time ``setup_s`` arrives measured from ``get_spark``;
each workload adds its own preconditions to it.
"""

from __future__ import annotations

import dataclasses
import glob
import hashlib
import json
import os
import shutil
import statistics
import time
import traceback
from collections.abc import Callable

import pyarrow.parquet as pq

from . import eventlog
from .gen import load_truth

DETECTORS = ("exact", "minhash", "simhash", "suffix")


@dataclasses.dataclass
class Outcome:
    e2e: dict[str, float]
    attempted: int
    failed: int
    gates: dict[str, bool]
    data_dirs: list[str]
    layers: Callable[[eventlog.EventLog, int], dict[str, float]]
    notes: dict = dataclasses.field(default_factory=dict)


class Ops:
    """Counts timed operations; one that raises is recorded, not fatal
    to the rest of the run."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def run(self, fn, *args, **kw):
        self.attempted += 1
        t0 = time.monotonic()
        try:
            out = fn(*args, **kw)
        except Exception:  # the program failed this operation
            self.failed += 1
            self.errors.append(traceback.format_exc(limit=3))
            return None, time.monotonic() - t0
        return out, time.monotonic() - t0


def _now_ms() -> int:
    return int(time.time() * 1000)


def read_assignments(path: str) -> dict[str, str]:
    """image_id -> cluster_id from an assignments parquet directory."""
    t = pq.read_table(path, columns=["image_id", "cluster_id"])
    return dict(zip(t.column("image_id").to_pylist(), t.column("cluster_id").to_pylist()))


def assignments_hash(assign: dict[str, str]) -> str:
    h = hashlib.sha256()
    for k in sorted(assign):
        h.update(f"{k}\t{assign[k]}\n".encode())
    return h.hexdigest()


def recall_and_false_pairs(assign: dict[str, str], truth: dict) -> tuple[float, int, int]:
    """(recall, false pairs, planted pairs): planted pairs that share a
    cluster, and near-miss control pairs that wrongly do."""
    def together(a, b):
        return a in assign and assign[a] == assign.get(b)

    planted = truth["pairs"]
    found = sum(together(a, b) for a, b in planted)
    false = sum(together(a, b) for a, b in truth["controls"])
    return found / max(1, len(planted)), false, len(planted)


def _layer_metrics(costs: dict, scopes: set[str]) -> dict[str | None, eventlog.Cost]:
    """Merge per-(scope, layer) costs of ``scopes`` into per-layer costs
    (key None: work of those scopes that no write placed)."""
    out: dict[str | None, eventlog.Cost] = {}
    for key, c in costs.items():
        if key is not None and key[0] in scopes:
            out.setdefault(key[1], eventlog.Cost()).add(c)
    return out


def _sum(costs) -> eventlog.Cost:
    total = eventlog.Cost()
    for c in costs:
        total.add(c)
    return total


def _mb(b: int) -> float:
    return b / 1e6


def _totals(prefix: str, total: eventlog.Cost, log, window, wall_s: float) -> dict:
    return {
        prefix + "task_s": total.task_ms / 1000,
        prefix + "jobs": total.jobs,
        prefix + "spark.driver_idle_s": eventlog.idle_ms(log, window) / 1000,
        prefix + "traced.wall_s": wall_s,
    }


def _attribution(log, costs) -> dict:
    """Run-level attribution figures and the <=5% self-check."""
    everything = _sum(costs.values())
    unplaced = _sum(c for k, c in costs.items() if k is None or k[1] is None)
    return {
        "unattributed.task_s": unplaced.task_ms / 1000,
        "_attributed_share": 1 - unplaced.task_ms / max(1, everything.task_ms),
    }


# ------------------------------------------------------------ images_batch

def images_batch(spark, inputs: str, work: str, seconds: float, setup_s: float) -> Outcome:
    from dude_spark.config import JobConfig
    from dude_spark.pipeline import input_fingerprint, load_images, run_pipeline

    truth = load_truth(inputs)
    base, app = os.path.join(inputs, "base"), os.path.join(inputs, "append")
    ops = Ops()
    gates: dict[str, bool] = {}

    def cfg(paths, ck, run_id):
        return JobConfig(
            input_paths=paths, checkpoint_dir=ck,
            results_dir=os.path.join(work, "results", run_id),
            detectors=DETECTORS, use_cache=True, run_id=run_id,
        )

    windows: dict[str, tuple[int, int]] = {}  # phase -> (first start, last end) ms
    walls: dict[str, list[float]] = {"warmup": [], "cold": [], "append": [], "noop": []}
    spans: dict[str, float] = {}

    def timed(phase, paths, ckpt):
        w0 = _now_ms()
        res, wall = ops.run(run_pipeline, spark, cfg(paths, ckpt, phase))
        walls[phase].append(wall)
        windows[phase] = (windows.get(phase, (w0,))[0], _now_ms())
        return res

    # set-up: a from-scratch run over the whole input (base and append)
    # in a checkpoint of its own.  It pays the session's first-run costs
    # (JVM code warm-up, Python-worker start-up), and its assignments
    # are the reference the append rerun must equal.
    ref_ck = os.path.join(work, "reference")
    reference = timed("warmup", (base, app), ref_ck)
    setup_s += walls["warmup"][0]

    # cold: a first run over the table; its checkpoint is the state the
    # append rerun resumes
    started = time.monotonic()
    ck = os.path.join(work, "ckpt")
    cold = timed("cold", (base,), ck)
    records = _stage_records(ck) if cold else {}
    res = timed("append", (base, app), ck)
    # a no-change rerun, more while time is left: they leave the state
    # as it was, so extra samples only steady the mean
    while not walls["noop"] or time.monotonic() - started < seconds:
        noop = timed("noop", (base, app), ck)
        skipped = noop is not None and all(s.skipped for s in noop.stages.values())
        gates["noop_all_stages_skipped"] = gates.get("noop_all_stages_skipped", True) and skipped
        if noop is not None and not skipped:
            ops.failed += 1

    # spans timed from outside, around single public calls
    t = time.monotonic()
    input_fingerprint(spark, cfg((base, app), ck, "noop"))
    spans["noop.pipeline.input_fingerprint.wall_s"] = time.monotonic() - t
    t = time.monotonic()
    load_images(spark, cfg((base, app), ck, "noop"))
    spans["noop.pipeline.load_images.wall_s"] = time.monotonic() - t
    t = time.monotonic()
    input_fingerprint(spark, cfg((base,), ck, "cold"))
    spans["pipeline.input_fingerprint.wall_s"] = time.monotonic() - t

    # gate: the append rerun equals the set-up's from-scratch run
    appended = read_assignments(os.path.join(ck, "stages", "components")) if res else {}
    gates["append_equals_from_scratch"] = reference is not None and res is not None and (
        assignments_hash(appended)
        == assignments_hash(read_assignments(os.path.join(ref_ck, "stages", "components"))))
    recall, false_pairs, planted = recall_and_false_pairs(appended, truth)
    gates["recall_at_least_0.99"] = recall >= 0.99
    gates["no_false_pairs"] = false_pairs == 0
    for ok in (gates["append_equals_from_scratch"], gates["recall_at_least_0.99"],
               gates["no_false_pairs"]):
        ops.failed += 0 if ok else 1

    rows = truth["rows"]
    cold_s, = walls["cold"]
    e2e = {
        "setup_s": setup_s,
        "wall_s": cold_s,
        "rows_per_s": rows / cold_s,
        "rerun_s": walls["append"][0],
        "recall": recall,
    }

    def layers(log: eventlog.EventLog, slots: int) -> dict[str, float]:
        placed = eventlog.attribute(log, _batch_scope, _batch_layer)
        costs = eventlog.costs(log, placed)
        out = dict(spans)
        out.update(_attribution(log, costs))
        phases = {"cold": "", "append": "rerun.", "noop": "noop."}
        scope_ids = {k[0] for k in costs if k is not None}
        for phase, prefix in phases.items():
            ls = _layer_metrics(costs, {s for s in scope_ids if s.startswith(phase + "/")})
            total = _sum(ls.values())
            out.update(_totals(prefix, total, log, windows[phase], statistics.mean(walls[phase])))
            for name, c in ls.items():
                if name is None:
                    continue
                out[f"{prefix}{name}.task_s"] = c.task_ms / 1000
                out[f"{prefix}{name}.shuffle_write_mb"] = _mb(c.shuffle_write_bytes)
                out[f"{prefix}{name}.rows_out"] = c.records_out
                out[f"{prefix}{name}.jobs"] = c.jobs
            if prefix == "":
                out["gc_s"] = total.gc_ms / 1000
                out["shuffle_write_mb"] = _mb(total.shuffle_write_bytes)
                out["spill_mb"] = _mb(total.spill_bytes)
                out["slot_util"] = total.task_ms / max(1, (windows[phase][1] - windows[phase][0]) * slots)
                det = _sum(v for k, v in ls.items() if k and k.startswith("detectors."))
                out["detectors.slot_util"] = det.task_ms / max(1, det.wall_ms() * slots)
        out["setup.task_s"] = _sum(_layer_metrics(
            costs, {s for s in scope_ids if s.startswith("warmup/")}).values()).task_ms / 1000
        out["false_pairs"] = false_pairs
        out.update(records)
        return out

    return Outcome(
        e2e=e2e, attempted=ops.attempted, failed=ops.failed, gates=gates,
        data_dirs=[ck] + [os.path.join(work, "results", p) for p in ("cold", "append", "noop")],
        layers=layers,
        notes={"planted_pairs": planted, "false_pairs": false_pairs,
               "errors": ops.errors, "rows": rows,
               "noop_samples_s": [round(w, 4) for w in walls["noop"]]},
    )


def _batch_scope(props: dict) -> str | None:
    group = props.get("spark.jobGroup.id") or ""
    desc = props.get("spark.job.description") or ""
    if not group.startswith("dude_spark::") or not desc.startswith("dude_spark "):
        return None
    return f"{group[len('dude_spark::'):]}/{desc[len('dude_spark '):]}"


def _batch_layer(path: str) -> str | None:
    name = os.path.basename(path)
    parent = os.path.basename(os.path.dirname(path))
    if parent == "stages":
        kind, _, det = name.partition("_")
        return {
            "signatures": f"detectors.{det}",
            "candidates": f"operators.candidates.{det}",
            "overcap": f"operators.candidates.{det}",
            "edges": f"operators.verify.{det}",
            "components": "operators.components",
            "report": "operators.report",
            "ids": "operators.ids",
        }.get(kind)
    if name in ("run_metrics", "lineage"):
        return "lineage"
    if parent == "results":
        return "operators.report"
    return None


def _stage_records(ck: str) -> dict[str, float]:
    """Counts the cold run left in its durable records: candidate and
    edge rows from ``run_metrics``, capped buckets from ``overcap_<d>``."""
    out: dict[str, float] = {}
    t = pq.read_table(os.path.join(ck, "run_metrics"), columns=["run_id", "stage", "rows_out"])
    rows = {(r, s): n for r, s, n in zip(*(t.column(c).to_pylist() for c in ("run_id", "stage", "rows_out")))}
    for d in DETECTORS:
        cand = rows.get(("cold", f"candidates_{d}"), 0)
        edges = rows.get(("cold", f"edges_{d}"), 0)
        out[f"operators.candidates.{d}.rows_out"] = cand
        out[f"operators.verify.{d}.yield"] = edges / cand if cand else 0.0
        out[f"operators.candidates.{d}.overcap_buckets"] = pq.read_table(
            os.path.join(ck, "stages", f"overcap_{d}")
        ).num_rows
    return out


# ----------------------------------------------------------- images_stream

def _land(src: str, in_dir: str) -> None:
    """Atomically place one flat parquet file in the watched directory
    (a dot-prefixed name is ignored by the file source until renamed)."""
    name = os.path.basename(src)
    tmp = os.path.join(in_dir, "." + name + ".tmp")
    shutil.copyfile(src, tmp)
    os.rename(tmp, os.path.join(in_dir, name))


def _components(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Union-find reference for connected components: cluster id = the
    component's minimum id, singletons absent."""
    parent: dict[str, str] = {}

    def find(x):
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in list(parent)}


def images_stream(spark, inputs: str, work: str, seconds: float, setup_s: float) -> Outcome:
    from dude_spark.fixtures import IMAGES_SCHEMA
    from dude_spark.streaming import minhash_ingest, start_incremental_dedup
    from dude_spark.streaming.components import assignment_stores, current_assignments
    from dude_spark.storage import ShardedEpochStore

    truth = load_truth(inputs)
    epochs = sorted(glob.glob(os.path.join(inputs, "epochs", "epoch_*.parquet")))
    in_dir, state = os.path.join(work, "in"), os.path.join(work, "state")
    os.makedirs(in_dir)
    bucket_fn, verify_fn, state_cols = minhash_ingest()
    ops = Ops()
    gates: dict[str, bool] = {}

    def catch_up():
        q = start_incremental_dedup(
            spark, in_dir, state, IMAGES_SCHEMA, trigger_available_now=True,
            bucket_fn=bucket_fn, verify_fn=verify_fn, state_cols=state_cols,
            assign_clusters=True,
        )
        q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return q.recentProgress

    # set-up precondition: the base epoch
    t0 = time.monotonic()
    _land(epochs[0], in_dir)
    catch_up()
    setup_s += time.monotonic() - t0

    walls, add_batch, windows, landed_rows = [], [], [], 0
    for path in epochs[1:]:
        w0 = _now_ms()
        t0 = time.monotonic()
        _land(path, in_dir)
        progress, _ = ops.run(catch_up)
        walls.append(time.monotonic() - t0)
        windows.append((w0, _now_ms()))
        if progress:
            add_batch.append(sum(p["durationMs"].get("addBatch", 0) for p in progress) / 1000)
        landed_rows += pq.read_metadata(path).num_rows
    timed_epochs = range(1, len(epochs))

    # a catch-up with nothing new must read nothing
    progress, noop_wall = ops.run(catch_up)
    idle = progress is not None and all(p["numInputRows"] == 0 for p in progress)
    gates["noop_catch_up_reads_nothing"] = idle
    if progress is not None and not idle:
        ops.failed += 1

    # gates: incremental assignments equal connected components over the
    # accumulated pairs; recall and near-miss controls vs planted truth
    spark.sparkContext.setJobGroup("perfbench::check", "perfbench check")
    assign_store, _ = assignment_stores(spark, state, 64)
    current = {r["image_id"]: r["cluster_id"] for r in current_assignments(spark, assign_store).collect()}
    spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
    spark.sparkContext.setLocalProperty("spark.job.description", None)
    pt = pq.read_table(os.path.join(state, "pairs"), columns=["a", "b"])
    pairs = list(zip(pt.column("a").to_pylist(), pt.column("b").to_pylist()))
    gates["assignments_equal_components_of_pairs"] = current == _components(pairs)
    recall, false_pairs, planted = recall_and_false_pairs(current, truth)
    gates["recall_at_least_0.99"] = recall >= 0.99
    gates["no_false_pairs"] = false_pairs == 0
    for name in ("assignments_equal_components_of_pairs", "recall_at_least_0.99", "no_false_pairs"):
        ops.failed += 0 if gates[name] else 1

    # pruning: state files the last timed epoch opened, over files in state
    with open(os.path.join(state, "scans", f"epoch_{timed_epochs[-1]}.json")) as f:
        scan = json.load(f)
    opened = sum((scan.get(k) or {}).get("files_read", 0) for k in ("sigs", "rows"))
    in_state = sum(
        ShardedEpochStore(spark, state, name, key_col=key, n_shards=64).total_data_files()
        for name, key in (("sigs", "bucket"), ("rows", "image_id"))
    )

    wall = sum(walls)
    e2e = {
        "setup_s": setup_s,
        "wall_s": wall,
        "rows_per_s": landed_rows / wall,
        "rerun_s": statistics.median(walls),
        "recall": recall,
    }

    def layers(log: eventlog.EventLog, slots: int) -> dict[str, float]:
        placed = eventlog.attribute(log, _stream_scope, _stream_layer,
                                    fixed={"check": "perfbench.checks"})
        costs = eventlog.costs(log, placed)
        out = _attribution(log, costs)
        ls = _layer_metrics(costs, {f"epoch{b}" for b in timed_epochs})
        total = _sum(ls.values())
        window = (windows[0][0], windows[-1][1])
        out.update(_totals("", total, log, window, wall))
        out["gc_s"] = total.gc_ms / 1000
        out["shuffle_write_mb"] = _mb(total.shuffle_write_bytes)
        out["spill_mb"] = _mb(total.spill_bytes)
        out["slot_util"] = total.task_ms / max(1, sum(w[1] - w[0] for w in windows) * slots)
        for name, c in ls.items():
            if name is None:
                continue
            out[f"{name}.task_s"] = c.task_ms / 1000
            out[f"{name}.jobs"] = c.jobs
            out[f"{name}.shuffle_write_mb"] = _mb(c.shuffle_write_bytes)
        out["streaming.ingest.add_batch_s"] = statistics.median(add_batch) if add_batch else 0.0
        out["streaming.ingest.overhead_s"] = statistics.median(
            [w - a for w, a in zip(walls, add_batch)]) if add_batch else 0.0
        out["setup.task_s"] = _sum(_layer_metrics(costs, {"epoch0"}).values()).task_ms / 1000
        out["noop.traced.wall_s"] = noop_wall
        out["false_pairs"] = false_pairs
        out["storage.prune_ratio"] = opened / max(1, in_state)
        out["storage.files_in_state"] = in_state
        return out

    return Outcome(
        e2e=e2e, attempted=ops.attempted, failed=ops.failed, gates=gates,
        data_dirs=[state], layers=layers,
        notes={"planted_pairs": planted, "false_pairs": false_pairs,
               "epochs": len(walls), "errors": ops.errors, "rows": landed_rows,
               "epoch_walls_s": [round(w, 4) for w in walls]},
    )


def _stream_scope(props: dict) -> str | None:
    if props.get("spark.jobGroup.id") == "perfbench::check":
        return "check"
    batch = props.get("streaming.sql.batchId")
    return None if batch is None else f"epoch{batch}"


def _stream_layer(path: str) -> str | None:
    parts = path.split(os.sep)
    for store, layer in (("pairs", "streaming.ingest"), ("overcap", "streaming.ingest"),
                         ("sigs", "storage"), ("rows", "storage"),
                         ("assign", "streaming.components"),
                         ("members", "streaming.components")):
        if store in parts[-4:-1] or parts[-1] == store:
            return layer
    return None


WORKLOADS = {"images_batch": images_batch, "images_stream": images_stream}
