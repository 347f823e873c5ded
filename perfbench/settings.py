"""Fixed settings shared by the build's class-list run and every benchmark
run: the harness JVM's flag set, the per-workload amounts of work, and the
harness config they turn into."""
import os

# The harness JVM's fixed flag set (README: "JVM flags"):
# - C1 only: the default tiered compiler keeps recompiling for minutes;
# - a 240 MB code cache: C1-only defaults to 48 MB, which this process
#   fills in about 25 s, after which the sweeper flushes compiled code and
#   the JVM disables the compiler (README: "The ingest bump");
# - heap fixed at 3 GB (-Xms = -Xmx), parallel collector;
# - the class-data-sharing archive the build writes (-XX:SharedArchiveFile,
#   added by java_cmd) cuts class loading, the bulk of session start.
JVM_FLAGS = ["-XX:TieredStopAtLevel=1", "-XX:ReservedCodeCacheSize=240m",
             "-Xms3g", "-Xmx3g", "-Xss4m", "-XX:+UseParallelGC", "-XX:-UsePerfData",
             "-Xlog:cds=off", "-Xlog:cds+dynamic=off",
             "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio",
             "java.base/java.util", "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]

# A timed phase whose hypervisor steal exceeds this share of its vCPU time
# is run once more; the run reports the window with the less steal (quiet
# windows read 0.1-3%, noisy-neighbour bursts 5-12%).
STEAL_SHARE = 0.05
MAX_WINDOWS = 2
# dashboard_read: one timed client running whole rotations of the eight
# requests (one client: no contention noise, and the traced run's job
# attribution needs one); warm-up is rounds of four concurrent clients.
DASHBOARD_WARM_CLIENTS = 4
DASHBOARD_WARM_ROUNDS = 1
# The timed phase is fixed work derived from --seconds, the same on every
# commit: seconds / CYCLE_S whole rotations (dashboard_read) or passes
# (batch_dedup), 2 at BENCHMARK.json's 12 s; each takes 6-9 s on a 4-vCPU VM.
CYCLE_S = 6
# ingest_fresh: a fixed op count per timed phase, so the store grows the
# same on every commit.
INGEST_WARM_OPS = 16
INGEST_OPS_PER_SECOND = 1
# POST+read-back ops a traced dashboard_read run makes for the ingest layers
INGEST_PROBE_OPS = 6
# batch_dedup: whole passes over these three band-join queries (the pass is
# trimmed to fit the run: q_pipeline_select and q_dedup_spans are left out).
BATCH_WARM_PASSES = 2
BATCH_QUERIES = ["q_dedup_minhash", "q_dedup_embed_banded", "q_dedup_decisions"]


def ingest_ops_needed(seconds, trace):
    """Ops the plan must hold: warm-up, timed, a traced copy, write probes."""
    return INGEST_WARM_OPS + INGEST_OPS_PER_SECOND * seconds * (2 if trace else 1) + 5


def config(workload, seconds, trace, inputs_dir, work, warm=None):
    """The harness config; `warm` overrides every warm-up amount (the
    build's class-list run uses 0)."""
    return {
        "workload": workload, "seconds": seconds, "trace": bool(trace),
        "cpus": os.cpu_count() or 4, "inputs": inputs_dir, "work": work,
        "result": os.path.join(work, "result.json"), "spans": os.path.join(work, "spans.json"),
        "warm_clients": DASHBOARD_WARM_CLIENTS,
        "warm_rounds": DASHBOARD_WARM_ROUNDS if warm is None else warm,
        "timed_rotations": max(1, round(seconds / CYCLE_S)),
        "timed_passes": max(1, round(seconds / CYCLE_S)),
        "ingest_warm": INGEST_WARM_OPS if warm is None else warm,
        "ingest_timed": INGEST_OPS_PER_SECOND * seconds,
        "ingest_probe": INGEST_PROBE_OPS,
        "warm_passes": BATCH_WARM_PASSES if warm is None else warm,
        "queries": BATCH_QUERIES,
        "steal_share": STEAL_SHARE, "max_windows": MAX_WINDOWS,
    }


def java_cmd(classpath, archive_flag, config_path, extra=()):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    return (["java"] + JVM_FLAGS + [archive_flag] + list(extra) + opens +
            ["-cp", classpath, "graftbench.Main", config_path])
