package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The benchmark's JVM side. `run.py` generates the inputs, starts this
  * with the workload, and turns the JSON it writes into the result line.
  *
  * Arguments: `--workload W --seed N --seconds S --trace 0|1
  * --data DIR --work DIR --out FILE [--trace-file FILE] [--pins FILE]
  * [--write-pins] [--gen-s SECONDS]`.
  */
object Main {
  /** Operators that run per distinct text or vector (the exact-duplicate
    * collapse), plus two row-local controls. Only as many as one run can
    * afford: every query executes three times per run (the check, then two
    * timed passes). */
  val TextSet: Seq[String] = Seq(
    "t05_language_id", "t28_span_dedup", "t40_bpe_tokenize",
    "t68_bpe_fertility", "s23_neardup_pairs_lsh",
    "t01_doc_stats", "t37_char_entropy").sorted

  /** Queries the ingest workload's traced run times for the ops layers. */
  val ProbeSet: Seq[String] = Seq("t01_doc_stats", "t05_language_id",
    "t37_char_entropy", "s23_neardup_pairs_lsh")

  def ingestShape(seed: Long, probe: Boolean = false): DriveShape =
    if (probe) DriveShape(seed, n = 500, updates = 50, deletes = 25,
      added = 50, idlePolls = 1)
    else DriveShape(seed, n = 1500, updates = 150, deletes = 75,
      added = 150, idlePolls = 4)

  private val Cpus = 4

  /** Per-layer keys a traced run takes from its own workload, never from
    * the probe of the other one. */
  private val OwnKeys = Set("wall.op_total_s", "steal.s")

  /** `Bench`'s session, setting for setting. */
  def session(): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
        "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  final class Result {
    var attempted = 0L
    var failed = 0L
    val failures = mutable.ArrayBuffer.empty[String]
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    val layer = mutable.LinkedHashMap.empty[String, Double]
    def json: String = {
      def obj(m: mutable.Map[String, Double]) = m.map { case (k, v) =>
        s""""$k":${if (v.isNaN || v.isInfinite) "null" else v.toString}"""
      }.mkString("{", ",", "}")
      def str(s: String) = "\"" + s.flatMap {
        case '"' => "\\\""; case '\\' => "\\\\"
        case c if c < ' ' => " "; case c => c.toString
      } + "\""
      s"""{"attempted":$attempted,"failed":$failed,""" +
        s""""failures":${failures.take(20).map(str).mkString("[", ",", "]")},""" +
        s""""e2e":${obj(e2e)},"layer":${obj(layer)}}"""
    }
  }

  def main(args: Array[String]): Unit = {
    val jvmStartS = java.lang.management.ManagementFactory
      .getRuntimeMXBean.getUptime / 1e3
    val opt = args.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val data = opt("data")
    val work = Paths.get(opt("work"))
    val writePins = args.contains("--write-pins")
    val res = new Result
    val isIngest = workload == "ingest_sync"
    val names = workload match {
      case "text_dedup_dups" | "text_dedup_distinct" => TextSet
      case "ingest_sync" => Nil
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }

    // ---- set-up. Session start and a warm-up job are repeated and the
    // median counted; the queries' memo prime runs once, on the session
    // that is kept. The first round of a run still pays for compiling
    // whatever it runs first; taking each operation's fastest time over
    // the rounds leaves that out.
    var spark: SparkSession = null
    def startSession(tr: Trace): Double = {
      if (spark != null) spark.stop()
      val sw = new Stopwatch
      spark = tr.span("setup.session")(session())
      tr.span("setup.warmup") {
        if (isIngest) spark.range(1000).count()
        else QueryRunner.specs("q01_pricing_summary").fn(spark, data).count()
      }
      sw.seconds
    }
    val off = new Trace(false)
    val trace = new Trace(traced)
    val reps = Seq.fill(3)(startSession(off))
    if (traced)
      res.layer("trace_overhead.setup_s") = startSession(trace) - median(reps)
    val primeSw = new Stopwatch
    trace.span("setup.prime") {
      val runner = new QueryRunner(spark, data, trace, None)
      QueryRunner.benchPrime.filter(names.contains).foreach(runner.run)
    }
    val primeS = primeSw.seconds
    val setupS = opt.get("gen-s").map(_.toDouble).getOrElse(0.0) +
      jvmStartS + median(reps) + primeS
    println(s"[perfbench] session+warm-up $reps prime $primeS")
    if (traced && !isIngest) res.layer("SessionMemo.prime_s") = primeS

    // ---- output checks, outside every timed span
    val tCheck = System.nanoTime()
    if (!isIngest) {
      val runner = new QueryRunner(spark, data, off, None)
      val hashes = names.map(n => n -> runner.resultHash(n))
      if (writePins) {
        val body = hashes.collect { case (n, Right(h)) => s"""  "$n": "$h"""" }
        Files.writeString(Paths.get(opt("pins")),
          body.mkString("{\n", ",\n", "\n}\n"))
      }
      val pins = if (writePins) Map.empty[String, String]
        else readPins(Paths.get(opt("pins")))
      hashes.foreach { case (n, h) =>
        res.attempted += 1
        val bad = h match {
          case Left(err) => Some(err)
          case Right(x) if writePins => None
          case Right(x) if !pins.get(n).contains(x) =>
            Some(s"$n result hash $x does not match the pinned ${pins.get(n)}")
          case _ => None
        }
        bad.foreach { b => res.failed += 1; res.failures += b }
      }
    }

    // ---- measurement: closed loop, one operation at a time
    /** Runs rounds for `budget` seconds, and at least `minRounds`;
      * returns each round's op times. */
    def measure(budget: Double, minRounds: Int, tr: Trace,
        counters: Option[SparkCounters],
        layerOut: mutable.Map[String, Double]): Seq[Seq[Double]] = {
      val rounds = mutable.ArrayBuffer.empty[Seq[Double]]
      val layers = mutable.ArrayBuffer.empty[Map[String, Double]]
      val t0 = System.nanoTime()
      while (rounds.size < minRounds || secondsSince(t0) < budget) {
        if (isIngest) {
          val dir = work.resolve(s"round-${rounds.size}-${tr.enabled}")
          val r = new IngestRound(spark, dir, ingestShape(seed), tr, counters)
          r.run()
          res.attempted += r.attempted
          res.failed += r.failed
          res.failures ++= r.failures
          rounds += r.windows.map(_._2).toSeq
          println(s"[perfbench] round ${r.windows.map { case (n, s) => f"$n=$s%.3f" }.mkString(" ")}")
          layers += r.layer.toMap
        } else {
          val runner = new QueryRunner(spark, data, tr, counters)
          rounds += names.map { n =>
            res.attempted += 1
            runner.run(n) match {
              case Right(s) => s
              case Left(err) =>
                res.failed += 1; res.failures += err; Double.NaN
            }
          }
          layers += runner.layer.toMap
          println(s"[perfbench] pass ${names.zip(rounds.last).map { case (n, s) => f"$n=$s%.3f" }.mkString(" ")}")
        }
        LiveHeap.sample(spark.sparkContext)
      }
      layers.flatMap(_.keys).distinct.foreach { k =>
        layerOut(k) = median(layers.map(_.getOrElse(k, 0.0)).toSeq)
      }
      rounds.toSeq
    }
    // Each operation's fastest time over the rounds, as Bench takes each
    // query's minimum over its rounds: on a shared VM, slow spells of
    // seconds to minutes would otherwise decide a run's figures.
    def opMins(rs: Seq[Seq[Double]]) =
      rs.transpose.map(_.filterNot(_.isNaN)).filter(_.nonEmpty).map(_.min)
    def opTotal(rs: Seq[Seq[Double]]) = opMins(rs).sum
    def opP50(rs: Seq[Seq[Double]]) = median(opMins(rs))

    println(f"[perfbench] checks ${secondsSince(tCheck)}%.2f s")
    LiveHeap.reset()
    // a traced run keeps to one round of each kind, to stay short
    val untraced = measure(if (traced) seconds / 2 else seconds,
      if (traced) 1 else 2, off, None, mutable.Map.empty)
    res.e2e ++= Seq("op_total_s" -> opTotal(untraced),
      "heap_live_mb" -> LiveHeap.mb, "setup_s" -> setupS)

    if (traced) {
      val counters = new SparkCounters(spark.sparkContext)
      LiveHeap.reset()
      val rs = measure(seconds / 2, 1, trace, Some(counters), res.layer)
      res.layer("trace_overhead.op_total_s") = opTotal(rs) - opTotal(untraced)
      res.layer("op_p50_s") = opP50(untraced)
      res.layer("trace_overhead.op_p50_s") = opP50(rs) - opP50(untraced)
      res.layer("trace_overhead.heap_live_mb") =
        LiveHeap.mb - res.e2e("heap_live_mb")
      // the layers this workload does not exercise, on a small probe
      if (isIngest) {
        val runner = new QueryRunner(spark, data, trace, Some(counters))
        val sw = new Stopwatch
        QueryRunner.benchPrime.filter(ProbeSet.contains).foreach(runner.run)
        res.layer("SessionMemo.prime_s") = sw.seconds
        runner.layer.clear()
        ProbeSet.foreach { n =>
          res.attempted += 1
          runner.run(n).left.foreach { e =>
            res.failed += 1; res.failures += e }
        }
        res.layer ++= runner.layer -- OwnKeys
      } else {
        val r = new IngestRound(spark, work.resolve("probe"),
          ingestShape(seed, probe = true), trace, Some(counters))
        r.run()
        res.attempted += r.attempted
        res.failed += r.failed
        res.failures ++= r.failures
        res.layer ++= r.layer -- OwnKeys
      }
      res.layer("steal_share") =
        res.layer.remove("steal.s").getOrElse(0.0) /
          math.max(1e-9, res.layer("wall.op_total_s"))
      res.layer.get("pipeline.http_ok").foreach { ok =>
        res.layer("pipeline.http_ok_frac") =
          ok / math.max(1.0, res.layer("pipeline.http_requests"))
        res.layer.remove("pipeline.http_ok")
      }
      counters.close()
      opt.get("trace-file").foreach(f => trace.write(Paths.get(f), res.layer))
    }
    Files.writeString(Paths.get(opt("out")), res.json)
    val tStop = System.nanoTime()
    spark.stop()
    println(f"[perfbench] stop ${secondsSince(tStop)}%.2f s, total ${
      java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2f s")
  }

  private def readPins(p: Path): Map[String, String] =
    if (!Files.exists(p)) Map.empty
    else "\"([^\"]+)\"\\s*:\\s*\"([0-9a-f]+)\"".r
      .findAllMatchIn(Files.readString(p)).map(m => m.group(1) -> m.group(2))
      .toMap
}
