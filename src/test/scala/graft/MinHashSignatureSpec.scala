package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MinHashFunctions.minhashSignature
import graft.queries.TextPrimitives._

class MinHashSignatureSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def sigCol = minhashSignature(col("hs"),
    (0 until MinHashK).map(permA), (0 until MinHashK).map(permB), HashP)

  test("signature matches the K-traversal array_min formulation") {
    val base = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"),
        shingleHashes(shingles3(tokens(col("text")))).as("hs"))
      .filter(size(col("hs")) > 0)
    val slow = array((0 until MinHashK).map(i => minHash(col("hs"), i)): _*)
    val diff = base.select(sigCol.as("fast"), slow.as("slow"))
      .filter(not(col("fast") === col("slow"))).count()
    assert(diff === 0L)
  }

  test("null input -> null, empty input -> null") {
    import spark.implicits._
    val df = Seq((1L, Some(Seq.empty[Long])), (2L, None))
      .toDF("id", "hs")
    val rows = df.select(sigCol).collect()
    assert(rows.forall(_.isNullAt(0)))
  }

  test("participates in whole-stage codegen") {
    // materialize hs first: the HOF shingle pipeline (transform/lambda) is
    // CodegenFallback and would knock ANY containing Project out of WSCG —
    // the signature must stay codegen'd when fed a plain array column
    val tmp = java.nio.file.Files.createTempDirectory("mh_sig").toString
    Tables.load(spark, TestSpark.sfDir, "documents")
      .select(shingleHashes(shingles3(tokens(col("text")))).as("hs"))
      .write.mode("overwrite").parquet(tmp)
    val df = spark.read.parquet(tmp).select(sigCol.as("sig"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [minhash_signature"),
      s"minhash_signature Project not codegen'd in:\n$plan")
  }

  test("fused shingleHashSet == composed shingles3+hash pipeline") {
    val composed = shingleHashes(shingles3(tokens(col("text"))))
    val fused = shingleHashSet(col("text"))
    val diff = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(fused.as("f"), composed.as("c"))
      .filter(not(col("f") <=> col("c"))).count()
    assert(diff === 0L)
    // edge shapes: short docs, duplicate shingles, empty text
    import spark.implicits._
    val edge = Seq(Some(""), Some("a b"), Some("a b c"),
        Some("a b c a b c a b c"), Some("x x x x"), None)
      .toDF("text")
      .select(fused.as("f"), composed.as("c")).collect()
    edge.foreach { r =>
      assert(!r.isNullAt(0) && !r.isNullAt(1), s"null divergence: $r")
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
  }

  test("width-n shingle hashes match the composed HOF form (n = 4, 5)") {
    Seq(4, 5).foreach { n =>
      // composed twin of ShingleHashes60 at width n: n-token windows,
      // string-distinct, md5-prefix mod p
      val toks = col("toks")
      val composed = when(size(toks) >= n,
        transform(
          array_distinct(expr(
            s"""transform(sequence(0, size(toks) - $n),
               | i -> concat_ws(' ', ${(0 until n).map(j => s"toks[i + $j]").mkString(", ")}))"""
              .stripMargin.replaceAll("\n", " "))),
          s => tokenHash(s) % HashP))
        .otherwise(array().cast("array<bigint>"))
      val fused = graft.functions.ShingleFunctions
        .shingleHashes60(col("toks"), HashP, n)
      val diff = Tables.load(spark, TestSpark.sfDir, "documents")
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(fused.as("f"), composed.as("c"))
        .filter(not(col("f") <=> col("c"))).count()
      assert(diff === 0L, s"width-$n parity failed")
      import spark.implicits._
      val edge = Seq(Some("a b c"), Some(("w " * n).trim), Some(""), None)
        .toDF("text")
        .select(tokens(col("text")).as("toks"))
        .select(fused.as("f"), composed.as("c")).collect()
      edge.foreach { r =>
        assert(!r.isNullAt(0), s"fused null at width $n: $r")
        val c = if (r.isNullAt(1)) Seq.empty[Long] else r.getSeq[Long](1)
        assert(r.getSeq[Long](0) == c, s"width-$n edge divergence: $r") }
    }
  }

  test("fused simhash/token-hash/shingle-string expressions match composed forms") {
    import graft.functions.SimHashFunctions._
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
    // token hashes: distinct-on-hash, first-occurrence order
    val composedTh = array_distinct(
      transform(tokens(col("text")), t => tokenHash(t)))
    assert(docs.select(tokenHashes60(tokens(col("text"))).as("f"),
        composedTh.as("c"))
      .filter(not(col("f") <=> col("c"))).count() === 0L)
    // simhash: 60-bit majority vote
    val bitTerms = (0 until 60).map { b =>
      val vote = aggregate(col("hs"), lit(0L),
        (acc, h) => acc + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
      when(vote > 0, lit(1L << b)).otherwise(lit(0L))
    }
    assert(docs.select(tokenHashes60(tokens(col("text"))).as("hs"))
      .select(simhash60(col("hs")).as("f"), bitTerms.reduce(_ + _).as("c"))
      .filter(not(col("f") <=> col("c"))).count() === 0L)
    // shingle strings
    assert(docs.select(
        shingleStrings3(tokens(col("text"))).as("f"),
        shingles3(tokens(col("text"))).as("c"))
      .filter(not(col("f") <=> col("c"))).count() === 0L)
  }

  test("minhash_estimate == the zip_with/filter slot-agreement fraction") {
    import spark.implicits._
    val sigs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), shingleHashSet(col("text")).as("hs"))
      .select(col("doc_id"), sigCol.as("s"))
      .filter(col("s").isNotNull)
    val pairs = sigs.as("a").join(sigs.as("b"),
        col("a.doc_id") < col("b.doc_id") && col("b.doc_id") - col("a.doc_id") <= 3)
      .select(col("a.s").as("s1"), col("b.s").as("s2"))
      .unionByName(Seq((Seq(1L, 2L, 3L), Seq(1L, 5L)), (Seq(7L), Seq(7L)))
        .toDF("s1", "s2"))
    val hof = size(filter(zip_with(col("s1"), col("s2"), (x, y) => x === y),
      b => b)).cast("double") / MinHashK.toDouble
    val fast = graft.functions.MinHashFunctions
      .minhashEstimate(col("s1"), col("s2"), MinHashK)
    val diff = pairs.select(fast.as("f"), hof.as("h"))
      .filter(not(col("f") <=> col("h"))).count()
    assert(diff === 0L)
    assert(pairs.filter(fast > 0.0).count() > 0L)
  }

  test("top_token_count == max count over exploded tokens, row by row") {
    import spark.implicits._
    val docs = Tables.load(spark, TestSpark.sfDir, "documents")
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .unionByName(Seq((-1L, Seq("a", "b", "a")), (-2L, Seq.empty[String]))
        .toDF("doc_id", "toks"))
    val top = graft.functions.TokenFunctions.topTokenCount(col("toks"))
    val relational = docs.select(col("doc_id"), explode(col("toks")).as("t"))
      .groupBy(col("doc_id"), col("t")).count()
      .groupBy(col("doc_id")).agg(max(col("count")).as("rel"))
    val cmp = docs.select(col("doc_id"), top.as("fast"))
      .join(relational, Seq("doc_id"), "left")
      .select(col("fast"), coalesce(col("rel"), lit(0L)).as("rel"))
    assert(cmp.filter(not(col("fast") <=> col("rel"))).count() === 0L)
    assert(docs.filter(col("doc_id") === -1L).select(top).head.getLong(0) == 2L)
  }
}
