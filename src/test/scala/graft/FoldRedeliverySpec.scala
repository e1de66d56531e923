package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Dedup, Fold, Pipeline, Shared}
import graft.streaming.StreamingQueries

/** At-least-once redelivery of the replay-fold rows (q124, q128, q136,
  * q156): a crash after fold k wrote some or all of its shards, then a
  * re-run of fold k with the same `ver` and the remaining folds, must
  * read out exactly what the uninterrupted folds read out. The folds are
  * driven step by step on planted corpora (the rows' cross-fold specs'),
  * each batch being the slice the row's replay streams as micro-batch k.
  */
class FoldRedeliverySpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import spark.implicits._

  /** A documents table of (doc_id, text, source) rows under a temp dir. */
  private def corpus(name: String, docs: Seq[(Long, String, String)])
      : String = {
    val dir = TestSpark.tempDir(s"graft_redeliver_$name").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.parquet(s"$dir/documents.parquet")
    dir
  }

  /** One row: its fold over a fresh state dir, and micro-batch k. */
  private final case class FoldRow(name: String, folds: Int,
      fold: Path => Fold, batch: Int => DataFrame)

  /** The doc_id % 10 == 0 tenth split (doc_id div 10) % folds, the
    * replay q124, q128 and q136 stream.
    */
  private def tenth(docs: DataFrame, folds: Int)(k: Int): DataFrame =
    docs.filter(col("doc_id") % 10 === 0)
      .filter(expr(s"(doc_id div 10) % $folds") === k)

  /** Run every fold of `r`; with `crash` = (k, landed), fold k first
    * runs only the writes `landed` picks (the shards that landed before
    * the crash), a crashed write leaves a stray `_temporary` file in
    * every store, and fold k then runs again whole.
    */
  private def readout(r: FoldRow,
      crash: Option[(Int, Seq[() => Unit] => Seq[() => Unit])]): Seq[Row] = {
    val dir = TestSpark.tempDir(s"graft_redeliver_${r.name}_state")
    val f = r.fold(dir)
    Shared.inParallel(f.seeds)
    for (k <- 0 until r.folds) {
      crash.filter(_._1 == k).foreach { case (_, landed) =>
        landed(f.step(r.batch(k), k.toLong)).foreach(_())
        val stores = Files.list(dir)
        try stores.forEach { st =>
          val tmp = Files.createDirectories(st.resolve("_temporary/0"))
          Files.write(tmp.resolve("part-00000.parquet"), Array[Byte](1, 2, 3))
        } finally stores.close()
      }
      Shared.inParallel(f.step(r.batch(k), k.toLong))
    }
    f.readout.collect().toSeq
  }

  private lazy val rows: Map[String, FoldRow] = {
    // q124 bridge (OperatorSpec): fold-2 doc 20 merges fold-1 doc 10
    // with the corpus cluster {11,12}
    val r = (1 to 31).map(i => s"r$i").mkString(" ")
    val xt = (1 to 10).map(i => s"x$i").mkString(" ")
    val bt = (1 to 10).map(i => s"b$i").mkString(" ")
    val d124 = corpus("q124", Seq((11L, s"$r $bt", "s"),
      (12L, s"$r $bt", "s"), (10L, s"$r $xt", "s"),
      (20L, s"$r $xt $bt", "s")))
    // q128 demotion (OperatorSpec): doc 20 demotes fold-1 doc 40
    val rq = ("the" +: (2 to 31).map(i => s"r$i")).mkString(" ")
    val d128 = corpus("q128", Seq((11L, s"$rq $bt", "s1"),
      (12L, s"$rq $bt", "s1"), (40L, s"$rq $xt", "s2"),
      (20L, s"$rq $xt $bt", "s3")))
    // q136 strips (OperatorSpec): cross-fold pairing and a later-fold
    // keeper demoting an earlier fold's doc
    val runX = (0 until 25).map(i => s"x$i")
    val runY = (0 until 25).map(i => s"y$i")
    def w(p: String, n: Int) = (0 until n).map(i => s"$p$i")
    val d136 = corpus("q136", Seq(
      1L -> w("u", 30), 11L -> w("v", 30),
      10L -> (w("a", 3) ++ runX ++ w("b", 7)),
      20L -> (w("c", 3) ++ runX ++ w("d", 2) ++ runY ++ w("e", 2)),
      30L -> (w("p", 5) ++ runY ++ w("q", 5)))
      .map { case (id, t) => (id, t.mkString(" "), "src0") })
    // q156 cascade (RetrievalTombstoneSpec): fold 1 deletes the rep
    // fold 0 re-elected; fold 0 splits a chain
    val common = "the" +: (2 to 30).map(i => s"w$i")
    val qa = (common ++ (31 to 40).map(i => s"w$i")).mkString(" ")
    val qb = (common ++ (31 to 40).map(i => s"v$i")).mkString(" ")
    val quad = (1 to 40).map(i => s"t$i").mkString(" ")
    val dup = (1 to 40).map(i => s"u$i").mkString(" ")
    val d156 = corpus("q156", Seq((1L, qa), (25L, s"$qa $qb"), (30L, qb),
      (3L, quad), (14L, quad), (40L, quad), (51L, quad), (7L, dup),
      (18L, dup)).map { case (id, t) => (id, t, "s") })
    def docs(d: String) = Tables.documents(spark, d)
    Seq(
      FoldRow("q124", 3, new Dedup.LabelsFold(spark, d124, docs(d124), _),
        tenth(docs(d124), 3)),
      FoldRow("q128", 3,
        new Pipeline.ScorecardFold(spark, d128, docs(d128), _),
        tenth(docs(d128), 3)),
      FoldRow("q136", 3,
        new StreamingQueries.SpanStripFold(spark, d136, docs(d136), _),
        tenth(docs(d136), 3)),
      FoldRow("q156", 2,
        new StreamingQueries.TombstoneFold(spark, d156, docs(d156), _),
        k => Dedup.tombstonesOf(docs(d156))
          .filter(expr(s"(doc_id div ${Dedup.TombMod}) % 2") === k)))
      .map(r => r.name -> r).toMap
  }

  Seq("q124", "q128", "q136", "q156").foreach { name =>
    test(s"$name: a fold redelivered after a crash reads out as the " +
        "uninterrupted folds") {
      val r = rows(name)
      val want = readout(r, None)
      assert(want.nonEmpty)
      val landings = Seq[(String, Seq[() => Unit] => Seq[() => Unit])](
        "the first shard" -> (_.take(1)),
        "all but the first shard" -> (_.drop(1)),
        "every shard" -> identity)
      for (k <- 0 until r.folds; (what, landed) <- landings) {
        val got = readout(r, Some(k -> landed))
        assert(got === want,
          s"fold $k redelivered after $what landed diverged")
      }
    }
  }
}
