package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** JVM side of the benchmark (see perfbench/README.md). run.py writes a
  * plan file and reads back the raw record this writes; every statistic is
  * computed there. One closed-loop client: this thread runs the plan's
  * queries one after another, each execution being
  * `fn(spark, sfDir).count()`.
  *
  * Usage: Harness <plan file> <output json> */
object Harness {

  final case class Plan(
      mode: String, // "run" or "expect"
      sfDir: String,
      cpus: String,
      seconds: Double,
      minExecs: Int,
      deadlineS: Double,
      trace: Boolean,
      roots: Seq[String],
      dumpDir: Option[String],
      moduleNames: Seq[String],
      expected: Map[String, Long],
      hashes: Map[String, String],
      orders: IndexedSeq[Seq[String]])

  /** Plan file: one `key<TAB>value...` entry per line. */
  def readPlan(path: String): Plan = {
    val lines = Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).map(_.split("\t", -1).toSeq)
    def one(k: String): String = lines.collectFirst { case Seq(`k`, v) => v }
      .getOrElse(throw new IllegalArgumentException(s"plan: missing $k"))
    Plan(
      mode = one("mode"),
      sfDir = one("sf_dir"),
      cpus = one("cpus"),
      seconds = one("seconds").toDouble,
      minExecs = one("min_execs").toInt,
      deadlineS = one("deadline_s").toDouble,
      trace = one("trace") == "1",
      roots = lines.collect { case Seq("root", r) => r }.toSeq,
      dumpDir = lines.collectFirst { case Seq("dump_dir", d) => d },
      moduleNames = one("modules").split(",").toSeq,
      expected = lines.collect { case Seq("expect", q, rows, _) => q -> rows.toLong }.toMap,
      hashes = lines.collect { case Seq("expect", q, _, h) if h != "-" => q -> h }.toMap,
      orders = lines.collect { case Seq("order", qs) => qs.split(",").toSeq }.toIndexedSeq)
  }

  private val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  private val registry: Map[String, (SparkSession, String) => DataFrame] =
    graft.SparkEntry.queries ++ graft.BenchOnly.queries

  /** The query names of a module object (`graft.operators.<Name>` or
    * `graft.<Name>`). */
  private def moduleQueries(name: String): Set[String] = {
    val cls = Seq(s"graft.operators.$name$$", s"graft.$name$$").iterator
      .map(n => try Some(Class.forName(n)) catch { case _: ClassNotFoundException => None })
      .collectFirst { case Some(c) => c }
      .getOrElse(throw new IllegalArgumentException(s"no module $name"))
    val obj = cls.getField("MODULE$").get(null)
    cls.getMethod("queries").invoke(obj)
      .asInstanceOf[Map[String, _]].keySet
  }

  /** Module of each of `queries`, found by reflection over the plan's
    * module objects; a query in none of them is refused. */
  private def modulesOf(plan: Plan, queries: Seq[String]): Map[String, String] = {
    val owner = plan.moduleNames.flatMap(m => moduleQueries(m).map(_ -> m)).toMap
    queries.foreach { q =>
      require(registry.contains(q), s"$q is not a registered query")
      require(owner.contains(q), s"$q is in none of the modules ${plan.moduleNames.mkString(",")}")
    }
    queries.map(q => q -> owner(q)).toMap
  }

  /** graft.Bench's pre-run reset: without it dedup_minhash_clusters reads
    * its memoized labels instead of running the iterative pipeline. */
  private def preRun(q: String): Unit =
    if (q == "dedup_minhash_clusters") graft.operators.DedupOps.resetClusterCache()

  private def cpuNanos: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => -1L
  }
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  private def jitMillis: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else -1L
  }

  /** Exception class plus the first line of its message. */
  def cause(t: Throwable): String = {
    val msg = Option(t.getMessage).flatMap(_.linesIterator.nextOption()).getOrElse("")
    (t.getClass.getName + ": " + msg).take(400)
  }

  /** Order-insensitive content hash: sum of per-row xxhash64 over the
    * row's JSON rendering (columns renamed positionally, so duplicate or
    * dotted names are harmless), exact in decimal. Returns (rows, hash). */
  def contentHash(df: DataFrame): (Long, String) = {
    val d = df.toDF(df.columns.indices.map(i => s"c$i"): _*)
    val h = xxhash64(to_json(struct(d.columns.map(col).toIndexedSeq: _*))).cast("decimal(20,0)")
    val r = d.select(h.as("h")).agg(count(lit(1)), sum(col("h"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0"))
  }

  def main(args: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val plan = readPlan(args(0))
    val out = plan.mode match {
      case "run" => new Run(plan, t0).run()
      case "expect" => expect(plan)
      case m => throw new IllegalArgumentException(s"unknown mode $m")
    }
    Files.writeString(Paths.get(args(1)), json.writeValueAsString(out))
  }

  /** Expectation mode: one execution per query in the first order, each
    * reporting row count and content hash (optionally dumping the result
    * as parquet for the oracle cross-check). */
  private def expect(plan: Plan): Map[String, Any] = {
    modulesOf(plan, plan.orders.head)
    val spark = graft.Sessions.local(plan.cpus)
    val res = plan.orders.head.map { q =>
      preRun(q)
      val r: Map[String, Any] =
        try {
          val (rows, hash) = contentHash(registry(q)(spark, plan.sfDir))
          plan.dumpDir.foreach { d =>
            preRun(q)
            registry(q)(spark, plan.sfDir).coalesce(1).write.mode("overwrite").parquet(s"$d/$q")
          }
          Map("rows" -> rows, "hash" -> hash)
        } catch { case t: Throwable => Map("error" -> cause(t)) }
      q -> r
    }.toMap
    plan.dumpDir.foreach { d =>
      val sql = graft.SparkEntry.oracleSql.filter { case (k, _) => res.contains(k) }
      Files.writeString(Paths.get(s"$d/oracle_sql.json"), json.writeValueAsString(sql))
    }
    graft.Scratch.purge(spark)
    spark.stop()
    Map("expect" -> res)
  }

  /** Spans of the traced run: run -> pass -> query -> build / exec. */
  private final class Tracer(val on: Boolean, runStart: Long) {
    val spans = ArrayBuffer.empty[Map[String, Any]]
    private var nextId = 1
    val runId: Int = 0
    def span[A](name: String, parent: Int, pass: Int, query: String = "")(body: Int => A): A = {
      if (!on) return body(-1)
      val id = nextId; nextId += 1
      val s = System.nanoTime()
      try body(id)
      finally spans += Map("id" -> id, "parent" -> parent, "name" -> name, "pass" -> pass, "query" -> query,
        "start" -> (s - runStart), "end" -> (System.nanoTime() - runStart))
    }
  }

  private final class Run(plan: Plan, t0: Long) {
    private val tracer = new Tracer(plan.trace, t0)
    private val execs = ArrayBuffer.empty[Map[String, Any]]
    private val passes = ArrayBuffer.empty[Map[String, Any]]
    private var setup = Map.empty[String, Any]
    private var spark: SparkSession = _
    private var layers: Layers = _
    private var nextOrder = 0
    private var timedPasses = 0

    private val moduleOf = modulesOf(plan, plan.orders.head)

    private def elapsedS = (System.nanoTime() - t0) / 1e9

    def run(): Map[String, Any] = {
      // The set-up: a session plus one untimed pass (fixture and landing
      // staging, codegen, JIT). setup_s runs from entry into main to the
      // first timed pass. Then timed passes until both the sample
      // guard and --seconds are met.
      val s0 = System.nanoTime()
      spark = graft.Sessions.local(plan.cpus)
      val sessionNs = System.nanoTime() - s0
      if (plan.trace) layers = new Layers(spark)
      // the run's one output-hash check rides on the first untimed pass
      runPass(timed = false, traced = plan.trace, hashCheck = true)
      // collect the set-up's garbage outside the timed passes
      System.gc()
      setup = Map("setup_ns" -> (System.nanoTime() - t0), "session_ns" -> sessionNs)
      val passesNeeded = math.ceil(plan.minExecs.toDouble / plan.orders.head.size).toInt
      val timedStart = System.nanoTime()
      while (elapsedS < plan.deadlineS && (timedPasses < math.max(1, passesNeeded) ||
          System.nanoTime() - timedStart < plan.seconds * 1e9)) {
        // traced runs alternate traced and untraced timed passes so the
        // tracing overhead is measured inside one run
        runPass(timed = true, traced = plan.trace && timedPasses % 2 == 0)
      }
      if (layers != null) layers.detach()
      // a trivial job first, so state kept for the latest job (whichever
      // query ran last) is not counted as held across queries
      spark.range(1).count()
      val heapMb = settledHeapMb()
      graft.Scratch.purge(spark)
      spark.stop()
      if (plan.trace) tracer.spans += Map("id" -> tracer.runId, "parent" -> -1, "name" -> "run",
        "pass" -> -1, "query" -> "", "start" -> 0L, "end" -> (System.nanoTime() - t0))
      Map("setup" -> setup, "passes" -> passes.toSeq, "execs" -> execs.toSeq,
        "live_heap_mb" -> heapMb, "spans" -> tracer.spans.toSeq,
        "cpus" -> plan.cpus, "run_s" -> elapsedS)
    }

    /** Heap in use after full collections, repeated until it stops
      * shrinking: Spark's ContextCleaner frees broadcast blocks and shuffle
      * state only after a collection finds their handles dead, so one
      * collection leaves a share that depends on timing. */
    private def settledHeapMb(): Double = {
      def used = { System.gc(); ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed }
      var prev = used
      var cur = prev
      var i = 0
      while ({ Thread.sleep(200); cur = used; i += 1; cur < prev * 0.99 && i < 10 }) prev = cur
      cur / (1024.0 * 1024.0)
    }

    private def runPass(timed: Boolean, traced: Boolean,
        hashCheck: Boolean = false): Unit = {
      val order = plan.orders(nextOrder)
      val pass = nextOrder
      nextOrder += 1
      if (layers != null) { if (traced) layers.attach() else layers.detach() }
      tracer.span("pass", tracer.runId, pass) { passSpan =>
        val c0 = cpuNanos; val g0 = gcMillis; val j0 = jitMillis; val w0 = System.nanoTime()
        order.foreach(q => runQuery(q, pass, passSpan, timed, traced, hashCheck))
        passes += Map("pass" -> pass, "timed" -> timed, "traced" -> traced,
          "wall_ns" -> (System.nanoTime() - w0), "cpu_ns" -> (cpuNanos - c0),
          "gc_ms" -> (gcMillis - g0), "jit_ms" -> (jitMillis - j0))
      }
      if (timed) timedPasses += 1
    }

    /** One execution, `fn(spark, sfDir).count()`, checked against the
      * expected row count; with `hashCheck` the count comes from the
      * content hash, which is checked too. */
    private def runQuery(q: String, pass: Int, passSpan: Int, timed: Boolean, traced: Boolean,
        hashCheck: Boolean): Unit = {
      preRun(q)
      val fn = registry(q)
      val files0 = if (traced) Layers.files(plan.roots) else null
      val state0 = if (traced) Layers.sessionState(spark) else null
      val counters0 = if (traced) { layers.drain(); layers.snapshot() } else null
      var buildNs = 0L; var execNs = 0L; var rows = -1L; var error = ""
      tracer.span("query", passSpan, pass, q) { qSpan =>
        try {
          val b0 = System.nanoTime()
          val df = tracer.span("build", qSpan, pass, q)(_ => fn(spark, plan.sfDir))
          val e0 = System.nanoTime()
          buildNs = e0 - b0
          val hash = tracer.span("exec", qSpan, pass, q) { _ =>
            if (hashCheck) { val (n, h) = contentHash(df); rows = n; h }
            else { rows = df.count(); "" }
          }
          execNs = System.nanoTime() - e0
          // run.py refuses a workload query without an expectation; only
          // choose.py's catalog measurement runs queries that have none
          if (plan.expected.get(q).exists(_ != rows))
            error = s"RowCountMismatch: expected ${plan.expected(q)} rows, got $rows"
          else if (hashCheck && plan.hashes.get(q).exists(_ != hash))
            error = s"HashMismatch: expected ${plan.hashes(q)}, got $hash"
        } catch { case t: Throwable => error = cause(t) }
      }
      var rec = Map[String, Any]("query" -> q, "module" -> moduleOf(q), "pass" -> pass, "timed" -> timed,
        "traced" -> traced, "build_ns" -> buildNs, "exec_ns" -> execNs, "rows" -> rows,
        "error" -> error)
      if (traced) {
        layers.drain()
        val c1 = layers.snapshot()
        val (w, d, bytes) = Layers.fileDiff(files0, Layers.files(plan.roots))
        rec ++= Map(
          "counters" -> c1.map { case (k, v) => k -> (v - counters0.getOrElse(k, 0.0)) },
          "files_written" -> w, "files_deleted" -> d, "bytes_written" -> bytes,
          "state_diff" -> Layers.stateDiff(state0, Layers.sessionState(spark)))
      }
      execs += rec
    }
  }
}
