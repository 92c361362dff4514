package graft

import org.apache.spark.sql.SparkSession

/** Session factory — the engine's operational knobs in one place.
  *
  * Sizing rationale (SURVEY.md §4 / the 100 TB mandate):
  *  - shuffle partitions = executor threads locally; on a real cluster this
  *    is total-cores x 2-3 as a floor and AQE coalesces upward sizes —
  *    coalescing only ever merges, so over-partitioning is the safe side.
  *  - AQE on everywhere: runtime re-planning (join strategy switch, skew
  *    split, partition coalescing) replaces hand-tuned per-query numbers.
  *  - skew-join handling on explicitly (belt) in addition to
  *    operators.Skew's salting utilities (braces).
  *  - files.maxPartitionBytes stays at the 128m default: with the target
  *    layout (many multi-row-group files) that yields scan tasks that fit
  *    comfortably in executor memory even with wide rows; the fixture
  *    caveat (single-row-group files) is handled by Tables.loadParallel,
  *    not by shrinking this global.
  *  - UTC session timezone is load-bearing for oracle parity.
  *  - generated-class reuse ([[codegenReuse]]). Spark compiles every
  *    generated class with Janino into one JVM-wide LRU cache of
  *    `spark.sql.codegen.cache.maxEntries` entries, default 100. One pass
  *    of the seven `llm_curation` benchmark queries at sf0.01 compiles
  *    ~175-195 classes, so at the default every class was evicted before
  *    its next use: each repeat pass recompiled 174 of them (~18 ms each
  *    on the query thread, then C2 again from scratch). One full
  *    `graft.Bench` pass over the registry at sf0.01 compiles 1731
  *    distinct classes under these confs (2336 without the two below);
  *    [[CodegenCacheEntries]] holds them with ~2.4x headroom. The heap
  *    cost is the cached `GeneratedClass` handles and their bytecode stats
  *    (the classes live in metaspace): the benchmark's `live_heap_mb`
  *    rose ~2 % (1.5-1.7 MB) with its 120-150-class working sets.
  *    Two more confs keep an unchanged plan from missing the cache:
  *    - artifact isolation off: the cache is keyed by the compiling
  *      thread's class loader, and with isolation on every new session
  *      (each streaming query runs on a clone; `newSession()` children)
  *      gets its own executor-side loader, so its task-side classes never
  *      hit (`stream_session_append`: 22 recompiles per execution). The
  *      engine adds no per-session artifacts, so one loader loses nothing.
  *    - no stage id in generated class names: AQE numbers whole-stage
  *      codegen stages in the order concurrent query stages finish, so the
  *      same pipeline got a different class name, hence a different
  *      source, from run to run (`pipeline_curation`). The id stays in the
  *      plan's `*(n)` markers and in a comment of the generated source.
  */
object Sessions {

  /** Entries of Spark's generated-class cache; see the sizing note above.
    * A static conf: the cache is built once per JVM by the first session
    * that generates code, so every session factory (specs included) must
    * pass the same value. */
  val CodegenCacheEntries: Int = 4096

  /** The generated-class reuse confs, for every session factory. */
  def codegenReuse(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.useIdInClassName", "false")

  /** Local session shaped like the driver harness runs it. */
  def local(cpus: String): SparkSession = {
    val spark = codegenReuse(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // Long many-query sessions (Bench runs 180 queries x 3 executions;
      // a production driver is resident for days): the app-status stores
      // retain 1000 jobs/stages/SQL executions by default even with the UI
      // off, so tracking-store bookkeeping grows all session and every
      // listener-bus event pays for it — round 8's bench showed broad
      // run2 > run1 degradation from exactly this accumulation. Clamp
      // retention to what post-hoc debugging actually uses.
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      // ContextCleaner is GC-driven; a 128 GiB driver heap may not GC for
      // the whole bench, so shuffle files / broadcasts of finished queries
      // pile up. Force the periodic sweep down from the 30min default.
      // (ExplicitGCInvokesConcurrent in build.sbt keeps this sweep from
      // being a stop-the-world full GC.) Env-tunable because the sweep
      // itself is a measured noise source: each forced cycle steals cores
      // from whatever query is running (round-10 forensics), so the bench
      // wants it rare, while a days-resident production driver wants it
      // regular. 300s bounds accumulation to ~5 min of finished-query
      // debris — at fixture scale a few MB of shuffle files.
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("GRAFT_PERIODIC_GC_INTERVAL", "300s"))
      // SESSION CONTRACT: TIMESTAMP(NANOS) parquet (one of the fixture's
      // writer generations) is only readable under this legacy conf, and
      // it must be on BEFORE any such scan. It is session-wide and STICKY
      // by design — Tables.load/normalizeTs own turning the surfaced
      // nanos-long back into canonical timestamps; ad-hoc parquet reads
      // outside Tables.load will surface NANOS columns as raw longs.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    plans.GraftFunctions.ensureRegistered(spark)
    spark
  }

  /** Production builder: same knobs, cluster master/resources come from
    * spark-submit; custom expressions arrive via extensions so SQL-only
    * clients get them too. */
  def productionBuilder(): SparkSession.Builder =
    codegenReuse(SparkSession.builder())
      .withExtensions(new plans.GraftExtensions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // same sticky session contract as local() — see the note there
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
