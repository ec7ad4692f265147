package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

/** The session memo behind every derived table and relation: its
  * version follows the fixture files it was derived from, and every
  * value it spills lands under the session's spill root. */
class MemoSpec extends SparkSpec {

  private def rows(s: SparkSession, q: String, d: String): Seq[String] =
    try SparkEntry.queries(q)(s, d).collect().map(_.toString).sorted.toSeq
    finally Scoped.release()

  /** Root paths of every file scan `df` reads, spilled relations
    * included (the analyzed plan precedes cache substitution). */
  private def scanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.analyzed.collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toUri.getPath)
        case _ => Nil
      }
    }.flatten

  test("a fixture rewritten in one session recomputes its derived tables " +
      "and relations, replacing their entries") {
    // q49 reads a memoized ORC copy of lineitem, s15 a memoized label
    // table over embeddings, t08 a spilled pair relation over
    // documents: after each rewrite all three must answer like a fresh
    // session on the new files, and the rewrites must replace memo
    // entries instead of adding to them
    val queries = Seq("q49_orc_source", "s15_semantic_dedup_lsh",
      "t08_jaccard_pairs")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-memo-rewrite").toString
    def write(k: Int): Unit =
      Seq("lineitem" -> "l_orderkey", "embeddings" -> "vec_id",
          "documents" -> "doc_id").foreach { case (t, id) =>
        Tables.table(spark, sf0001, t).filter(pmod(col(id), lit(7)) =!= k)
          .write.mode("overwrite").parquet(s"$dir/$t.parquet")
      }
    write(0)
    val first = queries.map(rows(spark, _, dir))
    val entries = SessionMemo.entryCount(spark)
    (1 to 3).foreach { k =>
      write(k)
      val fresh = spark.newSession()
      queries.zip(first).foreach { case (q, old) =>
        val now = rows(spark, q, dir)
        assert(now == rows(fresh, q, dir), s"$q served stale rows after " +
          s"rewrite $k")
        assert(k > 1 || now != old, s"$q: rewrite $k changed nothing")
      }
      assert(SessionMemo.entryCount(spark) == entries,
        s"rewrite $k accreted memo entries")
    }
  }

  test("with graft.spill.dir set, every derived table lies under it") {
    val base = java.nio.file.Files
      .createTempDirectory("graft-memo-spill-dir").toString
    val s2 = spark.newSession()
    s2.conf.set("graft.spill.dir", base)
    Seq("q49_orc_source", "q61_dpp_prune", "s16_ivfpq_stored",
        "m15_bronze_media", "t08_jaccard_pairs").foreach { q =>
      val derived =
        try scanRoots(SparkEntry.queries(q)(s2, sf0001))
          .filterNot(_.startsWith(sf0001))
        finally Scoped.release()
      assert(derived.nonEmpty && derived.forall(_.startsWith(base)),
        s"$q reads derived tables outside $base: ${derived.mkString(", ")}")
    }
  }
}
