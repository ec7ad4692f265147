package perfbench

import graft.{QuerySpec, Scoped, SparkEntry}
import graft.ops._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Runs registered queries one at a time, as `Bench` does: the
  * `QuerySpec` function builds the DataFrame and the noop sink
  * materializes every row. */
final class QueryRunner(spark: SparkSession, dir: String, trace: Trace,
    counters: Option[SparkCounters]) {
  import QueryRunner._

  /** Per-layer totals of the executions so far (the span and counter
    * ones only when tracing). */
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  private def add(k: String, v: Double): Unit =
    layer(k) = layer.getOrElse(k, 0.0) + v

  /** Seconds of one execution, steal taken out ([[Stopwatch]]), or the
    * failure. */
  def run(name: String): Either[String, Double] = {
    val fn = specs(name).fn
    val w0 = counters.map(_.snapshot())
    val t0Ms = System.currentTimeMillis()
    val sw = new Stopwatch
    val t0 = System.nanoTime()
    try {
      val df = trace.span("ops.build")(fn(spark, dir))
      val t1 = System.nanoTime()
      if (trace.enabled) trace.span("ops.plan")(df.queryExecution.executedPlan)
      val t2 = System.nanoTime()
      trace.span("ops.exec")(df.write.format("noop").mode("overwrite").save())
      val t3 = System.nanoTime()
      val wall = sw.wallS
      val secs = sw.seconds
      add("wall.op_total_s", wall)
      add("steal.s", wall - secs)
      // the layers' shares of the op, with the steal taken out alike
      val k = if (wall > 0) secs / wall / 1e9 else 1e-9
      counters.foreach { c =>
        val w = c.snapshot() - w0.get
        val fam = s"ops.${family(name)}"
        add("ops.build_s", (t1 - t0) * k)
        add("ops.plan_s", (t2 - t1) * k)
        add("ops.exec_s", (t3 - t2) * k)
        add("ops.jobs", w.jobs)
        add("ops.stages", w.stages)
        add("ops.tasks", w.tasks)
        add("ops.codegen_compiles", w.compiles)
        add("ops.codegen_compile_s", w.compileNs / 1e9)
        add("ops.driver_gap_s", c.gapS(t0Ms, System.currentTimeMillis()))
        add("ops.task_run_s", w.taskRunMs / 1e3)
        add("ops.task_gc_s", w.taskGcMs / 1e3)
        add("ops.shuffle_write_bytes", w.shuffleWrite)
        add("ops.shuffle_read_bytes", w.shuffleRead)
        add("ops.spill_bytes", w.spill)
        add(s"$fam.build_s", (t1 - t0) * k)
        add(s"$fam.exec_s", (t3 - t2) * k)
        add(s"$fam.jobs", w.jobs)
        add(s"$fam.codegen_compiles", w.compiles)
      }
      Right(secs)
    } catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"$name threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
    } finally Scoped.release()
  }

  /** Order-insensitive hash of one execution's result. */
  def resultHash(name: String): Either[String, String] =
    try Right(hash(specs(name).fn(spark, dir)))
    catch {
      case scala.util.control.NonFatal(e) =>
        Left(s"$name threw ${e.getClass.getSimpleName}: " +
          String.valueOf(e.getMessage).take(200))
    } finally Scoped.release()
}

object QueryRunner {
  val specs: Map[String, QuerySpec] =
    SparkEntry.allSpecs.map(s => s.name -> s).toMap

  private val families: Map[String, String] = Seq(
    "Relational" -> Relational.specs, "Events" -> Events.specs,
    "Text" -> Text.specs, "Similarity" -> Similarity.specs,
    "Multimodal" -> Multimodal.specs, "Parity" -> Parity.specs)
    .flatMap { case (f, ss) => ss.map(_.name -> f) }.toMap
  def family(name: String): String = families(name)

  /** `Bench`'s memo-prime list: one query per session-memoized model
    * family. */
  val benchPrime: Seq[String] = Seq(
    "t05_language_id", "t08_jaccard_pairs", "t09_minhash_lsh",
    "t12_dedup_groups", "t29_classifier_score", "t38_bpe_merges",
    "t60_minhash_calibration", "t63_dsir_weights",
    "m10_ahash_groups", "m15_bronze_media",
    "s06_ivf_partitioned", "s10_pq_adc_knn", "s12_semantic_dedup",
    "s15_semantic_dedup_lsh", "s16_ivfpq_stored", "s33_code_sweep",
    "q49_orc_source", "q50_json_source", "q51_csv_source",
    "q61_dpp_prune")

  private def cell(v: Any): String = v match {
    case null => "∅"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case r: Row => r.toSeq.map(cell).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => cell(k) + "->" + cell(x) }.sorted
        .mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(cell).mkString("[", ",", "]")
    case x => x.toString
  }

  /** SHA-256 over the schema and the sorted rows, columns in name
    * order, so row order and column order do not matter. */
  def hash(df: DataFrame): String = {
    val cols = df.schema.fields.zipWithIndex.sortBy(_._1.name)
    val rows = df.collect().map(r =>
      cols.map { case (_, i) => cell(r.get(i)) }.mkString("\u0001")).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(cols.map { case (f, _) => s"${f.name}:${f.dataType.simpleString}" }
      .mkString(",").getBytes("UTF-8"))
    rows.foreach { r => md.update(r.getBytes("UTF-8")); md.update(10: Byte) }
    md.digest().map(b => f"$b%02x").mkString
  }
}
