"""SparkSession factory with scale-oriented defaults.

Defaults chosen for the 100TB design point, scaled down for local test:
AQE on (runtime re-plan + skew-join splitting), Arrow enabled for
DataFrame <-> pandas conversion (the engine's own Python passes are
Arrow UDFs), shuffle partitions sized to the local core
count (on a real cluster this is set to ~2-3x total cores by the
submitter; AQE coalesces small partitions automatically).

Catalyst runs the engine's plans interpreted: no whole-stage codegen
and no generated projections, predicates or orderings (see
``SQL_CONF``).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# The runtime session confs the engine depends on. get_spark sets them;
# scripts/submit_flagship.py applies the ones a spark-submit caller left
# unset, so both entry points run the same engine.
SQL_CONF = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    # deterministic timestamp semantics regardless of box TZ: NTZ
    # parquet values cast to instants at face value (the DuckDB
    # oracles compare epoch_us of naive timestamps)
    "spark.sql.session.timeZone": "UTC",
    # broadcast threshold generous: rank tables / rule lookups are tiny
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # constraint propagation walks every filter/join predicate tree
    # per plan node; with 500-rule when-chains + membership joins it
    # turns optimization into minutes of single-threaded driver CPU
    # (observed: >30 min at sf0.01). The inferred IsNotNull/equality
    # constraints buy nothing here — every predicate is already
    # explicit — so turn it off engine-wide.
    "spark.sql.constraintPropagation.enabled": "false",
    # Interpreted execution. Every request is a few short plans over
    # little data, but the plans are wide: nine layer branches of
    # 40-118 columns, 4k-arm CASE chains, a 182-column union. Generating
    # and Janino-compiling Java for them cost more than it saved: a cold
    # z16 tile compiled ~230 classes (~8 s of compile time, then JIT
    # threads busy on the generated code) to run ~2k features once.
    # With both confs Catalyst evaluates every projection, predicate,
    # ordering and join through its interpreted eval path. Either one
    # alone still compiles: wholeStage=false alone generates each
    # operator's projections and predicates, NO_CODEGEN alone still
    # fuses whole stages into Java. factoryMode is an internal conf, so
    # tests/test_engine_policy.py asserts the compile count stays near
    # zero, which also catches a Spark release that renames it.
    "spark.sql.codegen.wholeStage": "false",
    "spark.sql.codegen.factoryMode": "NO_CODEGEN",
}


def default_driver_memory() -> str:
    """Half the host's physical memory, capped at 48g, as a JVM size
    string. A heap larger than the machine is never pressed to collect
    and grows until the kernel kills the JVM."""
    phys_mib = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    return f"{min(phys_mib // 2, 48 * 1024)}m"


def get_spark(
    app_name: str = "osmzen-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 1))
    master = master or f"local[{cpus}]"
    if shuffle_partitions is None:
        shuffle_partitions = max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # every decorated DataFrame API call otherwise does TWO extra
        # py4j round trips (set_current_origin + clear) plus a Python
        # stack walk to record an error call-site. The engine's plan
        # builders make thousands of API calls per query (measured:
        # 7.8k round trips / 6.4s of socket wait building the 9-layer
        # plan at sf0.01), so this debugging nicety is a material part
        # of the driver fixed cost F. Error messages stay intact —
        # only the "user line number" enrichment is dropped. A static
        # conf, so it is set at session build, not in SQL_CONF.
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        # single-JVM local mode: the "driver" heap is also every
        # executor's heap, and Catalyst holds multi-layer plans during
        # optimization — size generously, but from the host's memory
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", default_driver_memory()))
        .config("spark.ui.enabled", "false")
    )
    for k, v in {**SQL_CONF, **(extra_conf or {})}.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
