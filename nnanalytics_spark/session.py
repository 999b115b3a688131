"""SparkSession factory tuned for both local testing and cluster scale.

Local runs are a single JVM (``local[N]``); the configs below are chosen so
the same code is correct on a 1000-executor cluster: AQE for runtime
re-planning (skew joins, partition coalescing), UTC session timezone so
results are oracle-comparable, Arrow for the few Pandas-UDF paths.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _default_driver_mem() -> str:
    """Driver heap when ``SPARK_GRAFT_DRIVER_MEM`` is unset: 12g, capped
    at 40% of physical memory in whole GiB (at least 1g). The heap is
    pre-touched at start-up (below), so a fixed 12g claimed about 14 GB
    of resident memory before the first query and got the test JVM
    killed by the OOM killer on a 16 GB host."""
    phys = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    return f"{max(1, min(12, int(phys * 0.4) // 2**30))}g"


_DRIVER_MEM = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_driver_mem()

_DEFAULTS = {
    # ~cores for local; on a real cluster this would be sized to data volume
    # (AQE coalescing makes an over-estimate cheap).
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # AQE's coalescing floor (default 1m) is sized for byte-bound work;
    # this engine's hot intermediates (pair tables, candidate sets,
    # posting joins) are COMPUTE-dense — a 1-3 MB shuffle of 8-byte-keyed
    # pairs feeds sort-merge joins and array intersections worth seconds
    # of CPU, and the 1m floor coalesces it onto 1-3 cores while the
    # other 29 idle (r9-opt profile: jaccard_threshold_sweep spent 4.9 s
    # of a 7.1 s wall in ONE coalesced task). 64k lets parallelismFirst
    # actually reach the cluster's parallelism on those stages:
    # interleaved min-of-4 A/B at sf0.1 measured 0.47-0.85x on 10 of 12
    # compute-dense rows (jaccard_threshold_sweep 4.53->2.19 s,
    # triangle_counts 4.67->2.51, prefix_filter_pairs 3.25->2.04,
    # bootstrap_ci 2.02->1.53, sql_tpch_q5 1.63->1.21) and par on
    # byte-bound rows. Grouped Arrow-kernel inputs, the one family
    # measured to prefer narrowness, pin their own width explicitly
    # (similarity._pin_kernel_width) so this floor cannot re-fan them.
    # A genuinely byte-bound deployment can restore 1m+ through
    # get_spark's overrides; the floor only governs how far AQE may
    # shrink below spark.sql.shuffle.partitions, never partition count
    # upward.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize": "64k",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": _DRIVER_MEM,
    # Whole-stage codegen emits one compiled class per plan; a long-lived
    # session running hundreds of distinct plans (the bench's warmup +
    # measured passes, or a real analytics server) exhausts the JVM's
    # default 240 MB code cache, at which point HotSpot silently stops
    # JIT-compiling and every subsequent query runs interpreted (observed:
    # uniform 10-25x slowdowns from ~query #75 onward). 1 GB keeps the
    # full query surface compiled; UseCodeCacheFlushing is belt-and-braces
    # so saturation degrades to eviction, never to a disabled compiler.
    #
    # -Xms == -Xmx (Spark derives -Xmx from spark.driver.memory): on
    # virtualized hosts where first-touch page faults are slow and
    # serialize per-process (measured ~0.5 GB/s here regardless of thread
    # count), G1's grow-GC-shrink cycling over a huge elastic heap turns
    # into recurring 30-90 s "fault storms" — 32 task threads RUNNABLE in
    # allocation paths, 32 cores of pure system time, near-zero progress.
    # A fixed heap is never uncommitted, so grow/shrink storms can't
    # recur — but -Xms alone only SIZES the heap; Linux still faults
    # pages lazily on first touch, and an age-probe session measured the
    # heap high-water mark climbing for many minutes (1.7 -> 6.7 GB over
    # 8 min of queries) with 5-20 s fault storms landing on whichever
    # query was allocating when the hypervisor was slow to back fresh
    # pages. -XX:+AlwaysPreTouch commits every heap page at JVM startup
    # (parallelized by the GC threads; measured ~1-4 s extra startup on
    # this host), so first-touch cost moves wholly into untimed session
    # init and no timed query ever faults fresh heap.
    # Heap sizing: the full 59-query bench peaks under 6 GB of live heap
    # at sf0.1; 12 GB leaves headroom and stays cheap to fault in (smaller
    # hosts get 40% of their memory, _default_driver_mem).
    # 2g since the headline surface passed ~200 distinct plans × 3
    # passes (1g was sized at ~60-180 plans).
    "spark.driver.extraJavaOptions": (
        "-XX:ReservedCodeCacheSize=2g -XX:+UseCodeCacheFlushing -XX:+AlwaysPreTouch -Xms"
        + _DRIVER_MEM
    ),
    # Python-worker allocator retention — the worker-side counterpart of
    # the JVM's AlwaysPreTouch (r10-opt). Spark reuses Python workers
    # across tasks (spark.python.worker.reuse=true default), but by
    # default every large numpy/pandas buffer is mmap'd by glibc and
    # munmap'd on free, so EVERY task re-faults fresh pages — on hosts
    # where first-touch faults are slow and serialize across processes
    # (this bench host: ~10 MB/s for hours at a stretch), Arrow-kernel
    # rows inflate 10-28x while JVM-heap rows stay ~1x. Three env vars,
    # applied to the worker daemon (spark.executorEnv.* reaches the
    # pyspark daemon's environment, and forked workers inherit it):
    #   MALLOC_TRIM_THRESHOLD_=-1   never trim the heap back to the OS
    #   MALLOC_MMAP_THRESHOLD_=1g   serve large buffers from the arena
    #                               instead of per-allocation mmap/munmap
    #   ARROW_DEFAULT_MEMORY_POOL=system  route Arrow buffers through
    #                               glibc (jemalloc purges dirty pages
    #                               after decay, re-faulting per task)
    # A reused worker then faults its high-water mark ONCE and keeps the
    # pages. Measured (r10-opt, interleaved A/B at sf0.1, healthy
    # window): 0.81-0.90x on Arrow-kernel rows (multimodal_decode 2.03
    # -> 1.61 s, image_resize_decode 2.82 -> 2.46, knn_graph 2.11 ->
    # 1.85, semdedup 1.88 -> 1.75 min-of-2x2); during fault storms the
    # retained pages are the difference between ~1x and 10-28x. Cost:
    # per-worker RSS stays at its high-water mark (bounded by the
    # largest kernel batch, ~100-300 MB here); a memory-tight
    # deployment can pass other values through get_spark's overrides.
    "spark.executorEnv.MALLOC_TRIM_THRESHOLD_": "-1",
    "spark.executorEnv.MALLOC_MMAP_THRESHOLD_": "1073741824",
    "spark.executorEnv.ARROW_DEFAULT_MEMORY_POOL": "system",
    # Skip trailing no-data micro-batches (r10-opt, guide §1.2 step 3
    # after the §5 state-store/width levers measured no-win): this
    # engine's streaming operators advance their watermarks with DATA
    # (far-future sentinel segments), so the extra empty batch Spark
    # appends after the last file only fires timeouts for the sentinel
    # keys every harness filters out — one full state stage + commit
    # cycle per streaming query for rows nobody reads. Verified
    # row-identical on all 8 streaming parity queries at sf0.01 AND
    # sf0.1 with the flag off; same-session rotated A/B min-of-3 at
    # sf0.1: sessionization_parity 3.76 -> 1.96 s, stream_stream_join
    # 4.41 -> 2.40, stream_dedup 2.73 -> 1.79, watermark_window 4.32 ->
    # 3.73, locf/ewma/holt/static par. Pipelines that rely on
    # event-time timeouts firing WITHOUT new data (wall-clock-ish flush
    # of a quiescent stream) should set it back to true at runtime.
    "spark.sql.streaming.noDataMicroBatches.enabled": "false",
    # PySpark call-site capture off. When on, every Column / functions
    # call goes through pyspark.errors.utils._with_origin, which walks
    # the Python stack and makes 4-8 extra py4j round trips (active
    # session, spark.sql.stackTracesInDataFrameContext,
    # PySparkCurrentOrigin set and clear) before doing its work: a /dump
    # request built its 32-column projection in 2,287 round trips. What
    # is lost is only the Python file:line "DataFrame query context"
    # appended to analysis-error text; exception classes and messages
    # are unchanged. Nothing here reads that context.
    "spark.python.sql.dataFrameDebugging.enabled": "false",
}


def get_spark(app_name: str = "nnanalytics_spark", **overrides: str) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-appropriate defaults.

    Reuse is conf-preserving: ``getOrCreate`` applies builder configs to
    an EXISTING session's runtime conf (Spark 3.4+), so a nested
    ``get_spark()`` — e.g. the CLI invoked inside a test process whose
    suite session pins ``spark.sql.shuffle.partitions`` — would silently
    clobber the host session's settings. If a session is already active
    we return it untouched; defaults/overrides apply only on creation —
    and if the caller PASSED overrides in that case, we warn (ADVICE
    r6): conf-sensitive callers must learn their settings were ignored
    rather than debug a mystery plan.
    """
    # getActiveSession is thread-local; fall back to the process-wide
    # instantiated session so worker threads reuse instead of clobber.
    active = SparkSession.getActiveSession() or SparkSession._instantiatedSession
    if active is not None:
        if overrides:
            import warnings

            ignored = {
                k: v
                for k, v in overrides.items()
                if active.conf.get(k, None) != str(v)
            }
            if ignored:
                warnings.warn(
                    "get_spark: an active SparkSession already exists; "
                    f"requested conf overrides were NOT applied: {ignored}. "
                    "Stop the session first (spark.stop()) or set the conf "
                    "at runtime (spark.conf.set) if it is mutable.",
                    RuntimeWarning,
                    stacklevel=2,
                )
        return active
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    builder = SparkSession.builder.master(f"local[{cpus}]").appName(app_name)
    for key, value in {**_DEFAULTS, **overrides}.items():
        builder = builder.config(key, value)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
