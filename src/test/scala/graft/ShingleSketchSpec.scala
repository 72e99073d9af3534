package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

import graft.api.Dedup
import graft.functions.{ShingleHashes, TextUdfs}

/** graft.functions.ShingleHashes and the memoized Dedup.sketch: the
  * kernel equals the Column chain it replaced, the sketch keeps the
  * per-shingle form's results, and the memo serves only what it can key.
  */
class ShingleSketchSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  /** The Column chain the kernel replaced, kept as the reference:
    * tokenize, shingle by lambda, explode, md5 to hex, first 15 hex
    * digits parsed as a long.
    */
  private def referenceHashes(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("id"), TextUdfs.tokenizeCol(col("text")).as("__t"))
      .select(col("id"),
        posexplode(TextUdfs.shinglesFromTokens(col("__t"))).as(Seq("pos", "token")))
      .select(col("id"), col("pos"),
        conv(substring(md5(col("token")), 1, 15), 16, 10).cast("long").as("h"))
      .collect().groupBy(_.getLong(0))
      .map { case (id, rs) => id -> rs.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq }

  private def kernelHashes(df: DataFrame): Map[Long, Seq[Long]] =
    df.select(col("id"), ShingleHashes(TextUdfs.tokenizeCol(col("text"))).as("hs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap

  private def textDocs(rows: (Long, String)*): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (id, t) => org.apache.spark.sql.Row(id, t) }, 1),
      StructType(Seq(StructField("id", LongType), StructField("text", StringType))))

  private val edgeDocs = Seq(
    1L -> null,
    2L -> "",
    3L -> "one",
    4L -> "one two",
    5L -> "three token doc",
    6L -> "a  b   c    d",
    7L -> "   ",
    8L -> "123 456 !!! ???",
    9L -> "Kelvin İstanbul and K again İ",
    10L -> (0 until 2000).map(i => s"w${('a' + i % 26).toChar}${('a' + i / 26 % 26).toChar}")
      .mkString(" "))

  test("kernel equals the Column chain on edge inputs, codegen and interpreted") {
    val docs = textDocs(edgeDocs: _*)
    val ref = referenceHashes(docs)
    assert(ref.keySet == edgeDocs.map(_._1).toSet)
    assert(ref(10L).size == 1998 && ref(3L).size == 1 && ref(1L) == ref(2L))
    for ((mode, wholeStage) <- Seq("CODEGEN_ONLY" -> "true", "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", mode)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val got = kernelHashes(docs)
        edgeDocs.foreach { case (id, _) =>
          assert(got(id) == ref(id), s"$mode: doc $id diverges")
        }
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("sketch: an id on two rows gets the union of their shingles") {
    val docs = textDocs(
      1L -> "the quick brown fox jumps over",
      1L -> "a lazy dog sleeps under the tree",
      2L -> "the quick brown fox jumps over",
      3L -> "ab")
    val k = 8
    val seeds = Dedup.minhashSeeds(k)
    // the reference groups every row of an id, so distinct + sorted is
    // the per-shingle form's set
    val byId = referenceHashes(docs).map { case (id, hs) => id -> hs.distinct.sorted }
    val got = Dedup.sketch(docs, "id", "text", k).collect()
      .map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == Set(1L, 2L, 3L))
    byId.foreach { case (id, hs) =>
      val r = got(id)
      assert(r.getSeq[Long](k + 1) == hs, s"doc $id set")
      assert((1 to k).map(r.getLong) == seeds.map(c => hs.map(_ ^ c).min), s"doc $id sigs")
    }
    assert(got(1L).getSeq[Long](k + 1).size ==
      got(2L).getSeq[Long](k + 1).size + 5, "doc 1 must hold both rows' shingles")
  }

  private def persistent: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def checkpointRdd(df: DataFrame): Option[Int] =
    df.queryExecution.analyzed.collectLeaves().collectFirst {
      case l: LogicalRDD if persistent(l.rdd.id) => l.rdd.id
    }

  test("sketch memo: a file input is built once; a corpus rewritten in place rebuilds") {
    val dir = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    import spark.implicits._
    def write(texts: Seq[String]): Unit =
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
        .write.mode("overwrite").parquet(dir)
    def sets(df: DataFrame): Map[Long, Seq[Long]] =
      df.collect().map(r => r.getLong(0) -> r.getSeq[Long](r.length - 1)).toMap
    write(Seq("alpha beta gamma delta", "one two three four five"))
    val first = Dedup.sketch(spark.read.parquet(dir), "id", "text")
    val pinned = checkpointRdd(first)
    assert(pinned.nonEmpty, "a file input's sketch is checkpointed")
    assert(checkpointRdd(Dedup.sketch(spark.read.parquet(dir), "id", "text")) == pinned,
      "an unchanged file input is a memo hit")
    write(Seq("alpha beta gamma epsilon", "six seven eight nine ten", "x y"))
    val fresh = spark.read.parquet(dir)
    val second = Dedup.sketch(fresh, "id", "text")
    assert(checkpointRdd(second) != pinned, "a rewritten input must rebuild")
    val want = referenceHashes(fresh).map { case (id, hs) => id -> hs.distinct.sorted }
    assert(sets(second) == want)
    Dedup.releaseCaches(fresh, "id", "text")
  }

  test("sketch memo: nondeterministic and RDD-backed inputs are not memoized") {
    import spark.implicits._
    val local = Seq((1L, "some words to shingle here"), (2L, "more words to shingle"))
      .toDF("id", "text")
    val inputs = Seq(
      "nondeterministic" -> local.filter(rand(7) < 2.0),
      "rdd-backed" -> textDocs(1L -> "some words to shingle here"))
    inputs.foreach { case (what, df) =>
      val before = persistent
      val a = Dedup.sketch(df, "id", "text")
      a.count()
      Dedup.lshCandidatePairs(df, "id", "text").count()
      assert(checkpointRdd(a).isEmpty, s"$what: sketch must not be checkpointed")
      assert((persistent -- before).isEmpty, s"$what: nothing may be pinned")
    }
  }

  test("the Dedup chain leaves the CacheManager empty") {
    import spark.implicits._
    spark.catalog.clearCache()
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"),
      (3L, "the quick brown fox jumps over the lazy cat"),
      (4L, "an unrelated sentence about something else entirely"))
      .toDF("id", "text")
    val batch = Seq((5L, "the quick brown fox jumps over the lazy dog"))
      .toDF("id", "text")
    Dedup.lshCandidatePairs(docs, "id", "text").count()
    Dedup.jaccardVerify(docs, "id", "text").count()
    Dedup.nearDupComponents(docs, "id", "text").count()
    Dedup.incrementalNearDups(docs, "id", "text", col("id") > 2).count()
    spark.sql("CREATE DATABASE IF NOT EXISTS graft_buckets")
    val t = "graft_buckets.sketch_chain"
    Dedup.writeBandIndex(docs, "id", "text", t)
    Dedup.appendToBandIndex(batch, "id", "text", t)
    val flagged = Dedup.incrementalNearDupsIndexed(batch, "id", "text", t).collect()
    assert(flagged.map(_.getBoolean(3)).toSeq == Seq(true))
    assert(spark.sharedState.cacheManager.isEmpty,
      "no Dedup call may leave a CacheManager entry")
    Seq(docs, batch).foreach(Dedup.releaseCaches(_, "id", "text"))
  }
}
