"""Benchmark entry point.

    python3 perfbench/run.py --workload tile_request --seed 1 --seconds 10 --trace 0

Generates the workload's inputs from the seed, starts a Spark session
sized to this host, compiles the rule config, then runs the workload's
operation in a closed loop with one client until ``--seconds`` have
passed (at least one operation; the first one runs in a fresh JVM),
checks every output, and prints one JSON result as the last line of
stdout.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
same operations with a span around each engine call and reports the
per-layer metrics (see README.md). ``--workload all`` runs every
workload in one process and prints the human-readable lines only.

Everything the run writes (inputs, Spark scratch, checkpoints, the
driver log) lives under ``.bench_tmp/`` in the checkout and is removed
at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import time
import traceback

import checks
import gen
from spans import Tracer, per_layer

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)

PIPELINE_SPANS = [
    "sources.osmpbf.read",
    "pipeline.assembly",
    "pipeline.normalize.process",
    "pipeline.execute",
    "sinks.mvt",
]
# the session default (48g) assumes a 128 GiB box; 3g holds every workload here
DRIVER_MEMORY = "3g"
UNITS = {
    "jobs": "count", "stages": "count", "tasks": "count", "failed_tasks": "count",
    "rows_out": "count", "task_skew": "ratio", "shuffle_write_mb": "MiB", "spill_mb": "MiB",
}


def log(msg: str) -> None:
    print(msg, flush=True)


# ------------------------------------------------------------ processes


def descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(d))
    out, todo = [], list(kids.get(pid, []))
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def peak_rss_mb(pids) -> float:
    """Sum of each process's peak resident set (VmHWM), read from /proc."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/status") as f:
                total += next(int(line.split()[1]) for line in f if line.startswith("VmHWM:"))
        except (OSError, StopIteration):
            pass
    return total / 1024.0


def cpu_s(pids) -> float:
    """CPU seconds (user + system, own and reaped children's) of the
    given processes, read from /proc."""
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/stat") as f:
                total += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except OSError:
            pass
    return total / os.sysconf("SC_CLK_TCK")


def _tree_cpu_s() -> float:
    return cpu_s([os.getpid()] + descendants(os.getpid()))


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def stop_spark(spark) -> None:
    """Stop Spark and wait until the JVM and every Python worker have
    exited (the JVM exits when its gateway's stdin closes)."""
    from pyspark import SparkContext

    started = descendants(os.getpid())
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.time() + 20
    while any(_alive(p) for p in started) and time.time() < deadline:
        time.sleep(0.1)
    for p in started:
        if _alive(p):
            os.kill(p, signal.SIGKILL)


# ------------------------------------------------------------- workloads


def _union(layers: dict):
    dfs = list(layers.values())
    out = dfs[0]
    for df in dfs[1:]:
        out = out.unionByName(df, allowMissingColumns=True)
    return out


def _osm_pipeline(spark, engine, tr, path: str, bound, i: int):
    """The reference's Process from a .osm.pbf: one span per engine
    call, in the order sources.osmxml.process_tables makes them; the
    processed union is then materialized (pipeline.execute) so the sink
    span times the encoder alone."""
    from pyspark.sql import functions as F

    from osmzen_spark.pipeline.assembly import assemble_elements
    from osmzen_spark.sources.osmpbf import read_osm_pbf

    with tr.span("sources.osmpbf.read", i):
        t = read_osm_pbf(spark, path)
    with tr.span("pipeline.assembly", i):
        elements = assemble_elements(
            t.nodes, t.way_nodes, t.ways, t.relations, t.relation_members, bound=bound
        ).localCheckpoint(eager=True)
        rel_members = t.relation_members.join(
            t.relations.select("relation_id", F.col("tags").alias("rel_tags")), on="relation_id"
        ).select("relation_id", "member_type", "member_id", "rel_tags")
        wn = t.way_nodes.join(
            t.ways.select("way_id", F.col("tags").alias("way_tags")), on="way_id"
        ).select("way_id", "node_id", "way_tags")
    with tr.span("pipeline.normalize.process", i):
        layers = engine.process(
            elements, zoom=gen.ZOOM, bound=bound, relation_members=rel_members, way_nodes=wn, cache=True
        )
        union = _union(layers)
    with tr.span("pipeline.execute", i) as sp:
        mat = union.localCheckpoint(eager=True)
    return mat, sp


def _check_tiles(state) -> dict:
    """z/x/y and MVT-vs-rows checks on a materialized z16 tile frame."""
    mat, blobs, exec_span = state
    rows = mat.select("clon", "clat", "tile_x", "tile_y").toPandas()
    exec_span["rows"] = len(rows)
    fails = checks.tile_mismatches(rows["clon"], rows["clat"], rows["tile_x"], rows["tile_y"], gen.ZOOM)
    fails += checks.mvt_mismatches(blobs, checks.rows_per_tile(rows["tile_x"], rows["tile_y"]))
    digest = checks.digest((k, checks.digest([blobs[k]])) for k in blobs)
    return {"features": len(rows), "fails": fails, "digest": digest}


class Workload:
    """Inputs from a seed, an operation (timed) and its check (not)."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work

    def generate(self) -> None:
        raise NotImplementedError

    def inputs(self, i: int):
        """(key, input) of operation i."""
        raise NotImplementedError

    def op(self, spark, engine, tr, inp, i: int):
        raise NotImplementedError

    def check(self, state) -> dict:
        """{"features", "fails", "digest"} of one operation's output."""
        raise NotImplementedError


class TileRequest(Workload):
    """One client, closed loop: each request is a z16 tile extract ->
    the full pipeline clipped to the tile bound -> MVT blobs collected."""

    name = "tile_request"
    N_TILES = 4

    def generate(self) -> None:
        city = gen.City(self.seed)
        self.tiles = gen.tile_extracts(city, self.work, gen.densest_tiles(city, self.N_TILES))

    def inputs(self, i: int):
        x, y, path = self.tiles[i % len(self.tiles)]
        return f"{x}/{y}", (x, y, path)

    def op(self, spark, engine, tr, inp, i: int):
        from osmzen_spark.sinks.mvt import mvt_tiles

        x, y, path = inp
        mat, sp = _osm_pipeline(spark, engine, tr, path, gen.tile_bound(gen.ZOOM, x, y), i)
        with tr.span("sinks.mvt", i) as sm:
            blobs = {(r["tile_x"], r["tile_y"]): bytes(r["mvt"]) for r in mvt_tiles(mat, gen.ZOOM).collect()}
            sm["rows"] = len(blobs)
        return mat, blobs, sp

    check = staticmethod(_check_tiles)


class RegionMvt(Workload):
    """One regional extract -> the full pipeline, no bound -> z16 MVT
    blobs written to parquet."""

    name = "region_mvt"

    def generate(self) -> None:
        city = gen.City(self.seed)
        self.path = gen.city_pbf(city, self.work)

    def inputs(self, i: int):
        return "region", self.path

    def op(self, spark, engine, tr, inp, i: int):
        import pyarrow.parquet as pq

        from osmzen_spark.sinks.mvt import mvt_tiles

        mat, sp = _osm_pipeline(spark, engine, tr, inp, None, i)
        out = os.path.join(self.work, f"mvt-{i}")
        with tr.span("sinks.mvt", i):
            mvt_tiles(mat, gen.ZOOM).write.parquet(out)
        t = pq.read_table(out, columns=["tile_x", "tile_y", "mvt"]).to_pydict()
        shutil.rmtree(out, ignore_errors=True)
        return mat, {(x, y): m for x, y, m in zip(t["tile_x"], t["tile_y"], t["mvt"])}, sp

    check = staticmethod(_check_tiles)


class BatchNormalize(Workload):
    """The OSM-tagged image+caption table with a road network and its
    membership tables -> process_unioned -> written to parquet."""

    name = "batch_normalize"
    ROWS, ROADS = 50_000, 10_000
    TILE_ZOOM = 14

    def generate(self) -> None:
        self.tables = gen.batch_tables(self.seed, self.ROWS, self.ROADS, self.work)

    def inputs(self, i: int):
        return "batch", self.tables

    def op(self, spark, engine, tr, inp, i: int):
        with tr.span("pipeline.normalize.process", i):
            out = engine.process_unioned(
                spark.read.parquet(inp["elements"]),
                zoom=20, tile_zoom=self.TILE_ZOOM, cache=True,
                relation_members=spark.read.parquet(inp["relation_members"]),
                way_nodes=spark.read.parquet(inp["way_nodes"]),
            )
        path = os.path.join(self.work, f"out-{i}")
        with tr.span("pipeline.execute", i):
            out.write.parquet(path)
        return path, inp

    def check(self, state) -> dict:
        import pyarrow.parquet as pq

        path, inp = state
        c = pq.read_table(path, columns=[
            "id", "zen_layer", "kind", "min_zoom", "clon", "clat", "tile_x", "tile_y",
            "element_id", "caption", "bytes",
        ]).to_pydict()
        shutil.rmtree(path)
        fails = checks.tile_mismatches(c["clon"], c["clat"], c["tile_x"], c["tile_y"], self.TILE_ZOOM)
        src = pq.read_table(inp["elements"], columns=["element_id", "caption", "bytes"]).to_pydict()
        expected = {
            e: checks.payload_digest(cap, b)
            for e, cap, b in zip(src["element_id"], src["caption"], src["bytes"]) if cap is not None
        }
        fails += checks.payload_mismatches(c["element_id"], c["caption"], c["bytes"], expected)
        if not any(e in expected for e in c["element_id"]):
            fails.append("no output row carries an image payload")
        digest = checks.digest(zip(
            c["zen_layer"], c["id"], c["kind"],
            [None if z is None else round(z, 6) for z in c["min_zoom"]], c["tile_x"], c["tile_y"],
        ))
        return {"features": len(c["id"]), "fails": fails, "digest": digest}


WORKLOADS = {w.name: w for w in (TileRequest, RegionMvt, BatchNormalize)}


def _scrub(spark, engine) -> None:
    """Drop every checkpoint and cache an operation left pinned."""
    engine.release()
    for rdd in spark.sparkContext._jsc.getPersistentRDDs().values():
        rdd.unpersist(False)
    spark.catalog.clearCache()


# ------------------------------------------------------------------ run


def _environment(work: str) -> int:
    """Point every scratch location at ``work`` and make the engine
    importable by the Python workers; returns the core count."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [REPO] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ.pop("OSMZEN_CHECKPOINT_DIR", None)
    sys.path.insert(0, REPO)
    cpus = len(os.sched_getaffinity(0))
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    return cpus


def run(args, work: str, log_path: str) -> dict:
    cpus = _environment(work)
    names = list(WORKLOADS) if args.workload == "all" else [args.workload]
    workloads, gen_s = [], 0.0
    for name in names:
        d = os.path.join(work, name)
        os.makedirs(d)
        wl = WORKLOADS[name](args.seed, d)
        t = time.perf_counter()
        wl.generate()
        gen_s += time.perf_counter() - t
        workloads.append(wl)

    t_setup = time.perf_counter()
    from osmzen_spark.session import get_spark

    spark = get_spark(
        app_name="perfbench",
        master=f"local[{cpus}]",
        extra_conf={
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "10000",
        },
    )
    r = {"gen_s": gen_s, "session_s": time.perf_counter() - t_setup}
    try:
        _measure(args, spark, workloads, log_path, r)
    finally:
        stop_spark(spark)
    return r


def _measure(args, spark, workloads, log_path, r) -> None:
    from osmzen_spark.compiler.loader import DEFAULT_CONFIG_DIR, load_config
    from osmzen_spark.pipeline.normalize import NormalizeEngine

    t = time.perf_counter()
    engine = NormalizeEngine(load_config(DEFAULT_CONFIG_DIR))
    r["config_s"] = time.perf_counter() - t
    r["setup_s"] = r["session_s"] + r["config_s"]

    tr = Tracer(spark, log_path) if args.trace else Tracer(None)
    r.update(attempted=0, failed=0, latency={}, fps={}, cpu={}, digests={}, op_latency={})
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    for wl in workloads:
        lats, fps = r["latency"].setdefault(wl.name, []), r["fps"].setdefault(wl.name, [])
        cpu_secs = r["cpu"].setdefault(wl.name, [])
        # an input's digest must equal the stored one for this seed, or
        # else the one the input first gave in this run
        expected = dict(golden.get(wl.name, {}).get(str(args.seed), {}))
        t_end = time.perf_counter() + args.seconds
        i = 0
        while True:
            key, inp = wl.inputs(i)
            cpu0 = _tree_cpu_s()
            t = time.perf_counter()
            try:
                state = wl.op(spark, engine, tr, inp, i)
                lat = time.perf_counter() - t
                cpu = _tree_cpu_s() - cpu0
                res = wl.check(state)
            except Exception:
                traceback.print_exc()  # into the driver log
                res, lat = {"fails": ["operation raised (see driver log)"]}, None
            _scrub(spark, engine)
            r["attempted"] += 1
            if "digest" in res:
                r["digests"][f"{wl.name}/{key}"] = res["digest"]
                want = expected.setdefault(key, res["digest"])
                if want != res["digest"]:
                    res["fails"].append(f"output digest of {key} is {res['digest'][:16]}, expected {want[:16]}")
            if res["fails"]:
                r["failed"] += 1
                for f in res["fails"]:
                    log(f"[{wl.name}] CHECK FAILED op {i}: {f}")
            else:
                lats.append(lat)
                fps.append(res["features"] / lat)
                cpu_secs.append(cpu)
                r["op_latency"][i] = lat
                log(f"[{wl.name}] op {i} ({key}): {lat:.3f} s, {cpu:.2f} cpu s, {res['features']} features, "
                    f"digest {res['digest']}")
            i += 1
            if time.perf_counter() >= t_end:
                break

    r["rss"] = peak_rss_mb([os.getpid()] + descendants(os.getpid()))
    r["report"] = tr.report()
    r["trace_collect_s"] = tr.collect_s


def _metrics(args, r: dict) -> dict:
    def m(v, unit):
        return {"value": v, "unit": unit}

    if not args.trace:
        return {
            "latency_p50_s": m(statistics.median(r["latency"][args.workload]), "s"),
            "features_per_s": m(statistics.median(r["fps"][args.workload]), "1/s"),
            "cpu_s": m(statistics.median(r["cpu"][args.workload]), "s"),
            "setup_s": m(r["setup_s"], "s"),
        }
    report = r["report"]
    ops = sorted({s["op"] for s in report})

    def per_op(field):
        return statistics.median([sum(s[field] for s in report if s["op"] == o) for o in ops])

    # op latency (timed as in the untraced run) not covered by any span
    lat = r["op_latency"]
    unaccounted = [lat[o] - sum(s["wall_s"] for s in report if s["op"] == o) for o in ops if o in lat]

    out = {
        "session.get_spark.wall_s": m(r["session_s"], "s"),
        "compiler.load_config.wall_s": m(r["config_s"], "s"),
        "catalyst.codegen_fallbacks": m(per_op("fallbacks"), "count"),
        "op.span_wall_s": m(per_op("wall_s"), "s"),
        "op.jobs": m(per_op("jobs"), "count"),
        "op.stages": m(per_op("stages"), "count"),
        "op.latency_s": m(statistics.median(lat.values()), "s"),
        "op.unaccounted_s": m(statistics.median(unaccounted), "s"),
        "trace.collect_s": m(r["trace_collect_s"], "s"),
        "input_gen_s": m(r["gen_s"], "s"),
        "peak_rss_mb": m(r["rss"], "MiB"),
    }
    for k, v in per_layer(report, PIPELINE_SPANS).items():
        out[k] = m(v, UNITS.get(k.rsplit(".", 1)[1], "s"))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(REPO, "osmzen_spark", "__init__.py")):
        print(f"perfbench: engine package osmzen_spark not found in {REPO}", file=sys.stderr)
        return 2

    work = os.path.join(REPO, ".bench_tmp", f"{args.workload}-{os.getpid()}")
    os.makedirs(work)
    log_path = os.path.join(work, "driver.log")
    # the JVM inherits fd 2, so its log (codegen fallbacks included) lands in log_path
    saved_err = os.dup(2)
    log_fd = os.open(log_path, os.O_WRONLY | os.O_CREAT | os.O_APPEND)
    os.dup2(log_fd, 2)
    os.close(log_fd)
    ok = False
    try:
        r = run(args, work, log_path)
        ok = True
    finally:
        os.dup2(saved_err, 2)
        os.close(saved_err)
        if not ok:
            with open(log_path, "rb") as f:
                f.seek(max(0, f.seek(0, 2) - 8000))
                sys.stderr.write(f.read().decode("utf-8", "replace"))
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    log(f"digest {checks.digest(sorted(r['digests'].items()))}")
    log(f"setup_s {r['setup_s']:.3f} (session {r['session_s']:.3f}, config {r['config_s']:.3f}); "
        f"input generation {r['gen_s']:.3f} s; peak_rss_mb {r['rss']:.1f}")
    log(f"failed_frac {r['failed'] / r['attempted']:.3f} ({r['failed']}/{r['attempted']})")
    for name, lats in r["latency"].items():
        if lats:
            log(f"[{name}] latency_p50_s {statistics.median(lats):.3f} over {len(lats)} ops; "
                f"features_per_s {statistics.median(r['fps'][name]):.1f}; "
                f"cpu_s {statistics.median(r['cpu'][name]):.2f}")
    if not all(r["latency"].values()):
        return 1
    if args.workload == "all":
        return 0 if r["failed"] == 0 else 1
    print(json.dumps({
        "correct": r["failed"] == 0,
        "attempted": r["attempted"],
        "failed": r["failed"],
        "metrics": _metrics(args, r),
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
