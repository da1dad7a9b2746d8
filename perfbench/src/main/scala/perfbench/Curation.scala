package perfbench

/** `curation_ops`: passes of a fixed bundle of curation operators from
  * the library's query registry over a seeded corpus, each materialized
  * through the `noop` sink. The corpus is generated by the harness
  * (`inputs.py`). No lake commits: this is the control for lake and
  * core changes and the target for the dedup and product-quantization
  * operators.
  *
  * Set-up's warm-up pass writes each operator's output to parquet
  * instead; those files are what the output check compares with the
  * registry's DuckDB oracle SQL.
  */
final class Curation(c: Ctx) extends Workload {
  import c.{rec, spark}

  private val bundle = Seq("ext_dedup_minhash_lsh", "ext_dedup_semantic",
    "ext_dedup_incremental_near", "ext_knn_cosine_pq")
  /** One pass is a single sample of a noisy wall time; two give a median
    * that a slow moment of the host moves less. */
  private val minPasses = 2

  private val corpus = c.inputs
  private val registry = graft.SparkEntry.queries
  private var pass = 0
  /** Where the registry's operators keep their own txlog tables. */
  private val scratch = java.nio.file.Paths.get(
    System.getProperty("java.io.tmpdir"), "graft_scratch")

  def setup(): Unit = {
    rec.phase("warmup")(bundle.foreach { name =>
      rec.op("warm.op_ms", s"$name warm-up")(
        registry(name)(spark, corpus.toString).write
          .parquet(c.work.resolve("check").resolve(name).toString))
    })
    rec.set("lake_after_pass 0", Lake.counts(scratch))
  }

  def measure(seconds: Double): Unit = {
    val t0 = System.nanoTime()
    while (pass < minPasses || (System.nanoTime() - t0) / 1e9 < seconds) {
      pass += 1
      val p0 = System.nanoTime()
      val ok = rec.span(s"pass $pass") {
        bundle.map { name =>
          rec.op(s"ext.${name}_ms", name)(
            registry(name)(spark, corpus.toString).write.format("noop")
              .mode("overwrite").save()).isDefined
        }.forall(identity)
      }
      if (ok) rec.sample("curation_s", (System.nanoTime() - p0) / 1e9)
      rec.set(s"lake_after_pass $pass", Lake.counts(scratch))
    }
  }

  def finish(): Map[String, Any] = Map(
    "corpus" -> corpus.toString,
    "outputs" -> bundle.map(n =>
      n -> c.work.resolve("check").resolve(n).toString).toMap,
    "oracle" -> bundle.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap,
    "passes" -> pass)
}
