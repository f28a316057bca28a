package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** The benchmark's JVM: one closed-loop client over `SparkEntry.queries`.
  *
  * Arguments are `key=value` pairs:
  *  - `queries`: comma-separated workload query names.
  *  - `data`: directory with the input tables; `out`: output directory;
  *    `local`: `spark.local.dir`.
  *  - `seed`: permutes the query order of every pass.
  *  - `warmup`: untimed warm passes after the cold pass, while the JIT
  *    compiler is busiest.
  *  - `seconds`, `passes`: measured warm passes then run until both
  *    `seconds` have gone by and at least `passes` of them are done.
  *  - `cpus`: N of `local[N]`; `trace`: `1` records listener events.
  *
  * A pass runs every query once: the `SparkEntry.queries(name)` build
  * call, then a noop-format write. The first pass is the cold pass and
  * starts right after the session is ready, with no warm-up query, as a
  * scheduled report job would. In a traced run the measured passes
  * alternate untraced and traced, so the two can be compared.
  * Afterwards every query's result is written once as parquet, with its
  * oracle SQL, for the runner's DuckDB check. Last, the session is stopped
  * and set up [[SetupSamples]] more times, each on a fresh SparkContext,
  * for the set-up time samples. Everything the runner needs goes to
  * `out/run.json` and, when traced, `out/events.jsonl`.
  */
object Harness {
  /** Session set-ups timed after the passes, each on a fresh SparkContext. */
  val SetupSamples = 9

  def main(args: Array[String]): Unit = {
    val a = args.map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) }.toMap
    val out = Paths.get(a("out"))
    val data = a("data")
    val trace = a.get("trace").contains("1")
    def newSession() = session(a("cpus").toInt, a("local"), trace)
    val spark = newSession()
    val sessionReadyMs = System.currentTimeMillis()
    val machine = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1 << 20))

    val queries = a("queries").split(",").toSeq
    val rng = new scala.util.Random(a("seed").toLong)
    val tmp = Paths.get(System.getProperty("java.io.tmpdir"))
    val passes = Seq.newBuilder[Map[String, Any]]
    def pass(index: Int, traced: Boolean, warmup: Boolean = false): Map[String, Any] = {
      val before = entries(tmp)
      val w0 = Trace.ioWritten()
      val j0 = Trace.jvmCounters()
      if (traced) Trace.start(spark)
      val t0 = Trace.nowMs()
      val qs = rng.shuffle(queries).map(runQuery(spark, data, _))
      val t1 = Trace.nowMs()
      if (traced) Trace.stop(spark)
      val jvm = Trace.jvmCounters().zip(j0).map { case ((k, v), (_, v0)) => k -> (v - v0) }
      val leaked = entries(tmp) -- before
      Map("index" -> index, "traced" -> traced, "warmup" -> warmup,
        "start_ms" -> t0, "end_ms" -> t1,
        "queries" -> qs, "jvm" -> jvm.toMap, "io_written_bytes" -> (Trace.ioWritten() - w0),
        "leaked_entries" -> leaked.size,
        "leaked_bytes" -> leaked.toSeq.map(n => du(tmp.resolve(n))).sum)
    }
    passes += pass(0, traced = false)
    val warmup = a("warmup").toInt
    for (i <- 1 to warmup) passes += pass(i, traced = false, warmup = true)
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    val minPasses = a("passes").toInt
    var i = 1
    // a traced run ends on an untraced pass, so every traced pass has an
    // untraced pass on each side
    while (i <= minPasses || System.nanoTime() < deadline || (trace && i % 2 == 1)) {
      passes += pass(warmup + i, traced = trace && i % 2 == 0)
      i += 1
    }

    val results = out.resolve("results")
    val dumped = queries.map { name =>
      name -> (try {
        SparkEntry.queries(name)(spark, data).repartition(1).write
          .mode("overwrite").parquet(results.resolve(name).toString)
        null
      } catch { case e: Throwable => message(e) })
    }
    write(out.resolve("oracle_sql.json"),
      Json(queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))
    if (trace) Trace.writeEvents(out.resolve("events.jsonl"))
    val peakRssMb = Trace.peakRssMb()
    spark.stop()
    val again = (1 to SetupSamples).map { _ =>
      val t0 = Trace.nowMs()
      val s = newSession()
      val t1 = Trace.nowMs()
      s.stop()
      t1 - t0
    }
    write(out.resolve("run.json"), Json(Map(
      "setup" -> Map(
        "jvm_start_ms" -> java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime,
        "session_ready_ms" -> sessionReadyMs, "again_ms" -> again),
      "machine" -> machine, "passes" -> passes.result(),
      "dump_errors" -> dumped.toMap.filter(_._2 != null),
      "peak_rss_mb" -> peakRssMb)))
  }

  def session(cpus: Int, localDir: String, trace: Boolean): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.codegen.maxFields", "600")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", localDir)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    // registered by configuration so that sessions the engine clones with
    // newSession() report too; they record only while a traced pass runs
    if (trace) b
      .config("spark.sql.queryExecutionListeners", classOf[CatalystListener].getName)
      .config("spark.sql.streaming.streamingQueryListeners", classOf[StreamListener].getName)
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def runQuery(spark: SparkSession, data: String, name: String): Map[String, Any] = {
    val t0 = Trace.nowMs()
    var t1 = t0
    val error =
      try {
        val df = SparkEntry.queries(name)(spark, data)
        t1 = Trace.nowMs()
        noop(df)
        null
      } catch { case e: Throwable => message(e) }
    val t2 = Trace.nowMs()
    Map("name" -> name, "start_ms" -> t0, "built_ms" -> (if (error == null) t1 else t2),
      "end_ms" -> t2, "error" -> error)
  }

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def message(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).take(300)

  private def entries(dir: Path): Set[String] =
    Option(dir.toFile.list()).map(_.toSet).getOrElse(Set.empty)

  private def du(p: Path): Long = {
    val f = p.toFile
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(c => du(c.toPath)).sum
    else f.length()
  }

  def write(p: Path, s: String): Unit = {
    Files.createDirectories(p.getParent)
    Files.write(p, s.getBytes(UTF_8))
  }
}

/** Minimal JSON writer for maps, sequences, strings, numbers and booleans. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => apply(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\r' => "\\r"
    case '\t' => "\\t"; case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
}
