"""SparkSession factory with scale-appropriate defaults.

Settings chosen for the 100 TB design point (SURVEY.md §2.10, §4.3):
 - AQE + skew-join handling on (hot blocking keys in entity linking),
 - Arrow batching for the pandas-UDF extraction kernel,
 - auto broadcast threshold left enabled (dimension tables: lexicon,
   gazetteers are tiny vs the transcript fact table),
 - shuffle partitions default sized for local[32] test runs; under
   spark-submit, master/partitions come from --master/--conf (builder
   options are only set when NOT already provided by the launcher —
   an unconditional .master() here would silently override
   ``--master yarn`` and run the whole job on the driver),
 - the generated-code cache sized to the pipeline's working set
   (``CODEGEN_CACHE_ENTRIES``).  Whole-stage codegen compiles one class
   per distinct plan fragment with Janino, and the cache keeps it by
   its source text.  Spark's default of 100 entries is below what one
   session of the KG jobs generates: run_resumable then
   run_incremental use 255 distinct classes, and base -> increment ->
   apply-merges -> dedup 342 (CodegenMetrics compilation count with an
   unbounded cache, perfbench input, seed 5).  With 100 entries LRU
   evicted each class before its next use, so every warm
   run_incremental call compiled ~218 classes again; with 1000 a
   repeat call compiles 0-2 and the JVM spends 2-3 CPU-seconds less
   on it (perfbench kg_increment, seed 5, local[4]).  It is a static
   conf: it takes effect only when this factory creates the
   SparkContext, and the cache is JVM-wide.
"""

from __future__ import annotations

import os

from pyspark import SparkConf, SparkContext
from pyspark.sql import SparkSession

# spark.sql.codegen.cache.maxEntries: about 3x the 342 generated
# classes one session of the jobs creates (module docstring)
CODEGEN_CACHE_ENTRIES = 1000


def build_session(app: str = 'yargy-spark',
                  master: str | None = None,
                  shuffle_partitions: int | None = None,
                  extra: dict | None = None) -> SparkSession:
    # honor launcher-provided settings: under spark-submit the driver
    # JVM gateway ALREADY exists (PYSPARK_GATEWAY_PORT is set) and
    # carries --master / --conf — explicit builder calls here would
    # override them (e.g. silently turning --master yarn into
    # local[32]); local master and partitions apply only to
    # plain-python launches, and the defaults below only to keys the
    # launcher left unset
    launched_by_submit = 'PYSPARK_GATEWAY_PORT' in os.environ
    if master is None and not launched_by_submit:
        cpus = os.environ.get('SPARK_GRAFT_CPUS', '32')
        master = 'local[%s]' % cpus
    if shuffle_partitions is None and not launched_by_submit:
        shuffle_partitions = int(os.environ.get(
            'SPARK_GRAFT_SHUFFLE_PARTITIONS', '32'))

    builder = SparkSession.builder.appName(app)
    if master is not None:
        builder = builder.master(master)
    if shuffle_partitions is not None:
        builder = builder.config('spark.sql.shuffle.partitions',
                                 str(shuffle_partitions))
    defaults = {
        'spark.sql.adaptive.enabled': 'true',
        'spark.sql.adaptive.skewJoin.enabled': 'true',
        'spark.sql.adaptive.coalescePartitions.enabled': 'true',
        'spark.sql.execution.arrow.pyspark.enabled': 'true',
        'spark.sql.execution.arrow.maxRecordsPerBatch': '4096',
        'spark.sql.session.timeZone': 'UTC',
        'spark.driver.memory': os.environ.get('SPARK_GRAFT_DRIVER_MEM',
                                              '8g'),
        'spark.ui.enabled': 'false',
        'spark.sql.codegen.cache.maxEntries': str(CODEGEN_CACHE_ENTRIES),
    }
    if launched_by_submit:
        # a key the launcher set (--conf, --driver-memory) wins; the
        # gateway must be attached first, or SparkConf holds no
        # launcher keys
        SparkContext._ensure_initialized()
        launcher = SparkConf()
        defaults = {k: v for k, v in defaults.items()
                    if not launcher.contains(k)}
    for key, value in {**defaults, **(extra or {})}.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
