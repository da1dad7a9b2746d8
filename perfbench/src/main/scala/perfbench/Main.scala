package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, the recorder, the seed, the
  * generated inputs and a private work directory for lake roots and
  * check output. */
final case class Ctx(spark: SparkSession, rec: Recorder, seed: Long,
    inputs: Path, work: Path)

/** A closed-loop workload with one client (the calling thread). */
trait Workload {
  /** Build the initial state from the inputs and warm up. */
  def setup(): Unit
  /** Run iterations until `seconds` have passed (at least one, or the
    * workload's own minimum). */
  def measure(seconds: Double): Unit
  /** Untimed: write what the output checks need; returns run facts. */
  def finish(): Map[String, Any]
}

/** Entry point of one benchmark run, launched by `run.py`:
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s>
  *                --trace <0|1> --inputs <dir> --work <dir> --out <file>
  * }}}
  *
  * Writes everything it measured to `--out` as JSON; `run.py` derives
  * the metrics and runs the output checks. `--workload train` only sets up
  * `medallion_daily`, which is how the build records the class-data
  * archive the timed runs start from.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val startNs = System.nanoTime()
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = Paths.get(opts("work")).toAbsolutePath
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts.get("trace").contains("1")
    val training = opts("workload") == "train"
    val name = if (training) "medallion_daily" else opts("workload")
    val spark = session(work)
    val rec = new Recorder(spark, trace)
    rec.set("setup.session_s", (System.nanoTime() - startNs) / 1e9)
    val tracing = if (trace) Some(new Tracing(spark)) else None
    tracing.foreach(_.install())
    try {
      val c = Ctx(spark, rec, seed,
        Paths.get(opts("inputs")).resolve(name).toAbsolutePath,
        work.resolve(name))
      Files.createDirectories(c.work)
      val wl: Workload = name match {
        case "medallion_daily" => new Medallion(c)
        case "curation_ops" => new Curation(c)
        case other => sys.error(s"unknown workload $other")
      }
      wl.setup()
      rec.set("setup_end_ms", rec.nowMs)
      val facts =
        if (training) Map.empty[String, Any]
        else {
          val m0 = rec.nowMs
          wl.measure(seconds)
          val m1 = rec.nowMs
          rec.set("measure_start_ms", m0)
          rec.set("measure_end_ms", m1)
          rec.set("measure_s", (m1 - m0) / 1000.0)
          wl.finish()
        }
      tracing.foreach(_.drain())
      // the second collection frees what Spark's context cleaner released
      // after the first one enqueued its weak references
      System.gc()
      Thread.sleep(500)
      System.gc()
      val mx = java.lang.management.ManagementFactory.getMemoryMXBean
      rec.set("retained_heap_mb", mx.getHeapMemoryUsage.getUsed / 1048576.0)
      val extra = Map[String, Any](
        "workload" -> opts("workload"), "seed" -> seed, "trace" -> trace,
        "cores" -> spark.sparkContext.defaultParallelism, "facts" -> facts) ++
        tracing.map(t => Map("jobs" -> t.jobRecords,
          "queries" -> t.queryRecords)).getOrElse(Map.empty)
      Files.write(Paths.get(opts("out")), rec.toJson(extra).getBytes("UTF-8"))
    } finally spark.stop()
  }

  /** The library's own session shape (as its bench entry point builds
    * it), with every scratch location inside the work directory. */
  def session(work: Path): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors
    val spark = graft.SessionTuning(SparkSession.builder())
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
