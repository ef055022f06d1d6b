package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.Tables
import graft.queries.TextPrimitives._

/**
 * Deduplication operators over `documents`: exact, n-gram Jaccard,
 * MinHash+LSH, and SimHash.
 *
 * Scale design (the point of each variant):
 *  - exact: hash-groupBy on a digest — one shuffle on md5(text), no skew
 *    (digests are uniform).
 *  - ngram-jaccard: inverted-index self-join on shingle (shuffle on
 *    shingle hash), then pair-count aggregation. Exact but O(sum of
 *    per-shingle doc-frequency^2) — the correctness baseline.
 *  - minhash-lsh: the 100 TB path. Constant-size signature per doc
 *    (16 permutations), band-bucket join (4 bands x 4 rows) produces
 *    candidates ∝ true near-dups instead of all shingle co-occurrences;
 *    candidates are then verified with exact Jaccard. Band keys are
 *    uniform hashes → no join skew.
 *  - simhash: constant-size 60-bit fingerprint per doc; near-dup lookup
 *    becomes a fingerprint-equality (or small-Hamming-ball) join.
 *
 * Everything is expression-level (codegen'd); no UDFs.
 */
object Dedup {

  // ---------------------------------------------------------------- exact
  /** Exact dedup via content digest: per-source doc counts before/after. */
  def qDedupExact(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    docs.select(col("source"), col("doc_id"), md5(col("text")).as("digest"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("digest")).as("n_unique"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("source"))
  }

  val qDedupExactSql: String =
    """SELECT source, COUNT(*) AS n_docs,
      | COUNT(DISTINCT md5(text)) AS n_unique,
      | MIN(doc_id) AS first_doc
      |FROM documents
      |GROUP BY source
      |ORDER BY source""".stripMargin

  // -------------------------------------------------------- ngram jaccard
  /** Default doc-frequency cap on shingles feeding the exact-Jaccard
    * self-join (`spark.graft.dedup.ngram.maxShingleDf`). Without it a
    * stop-word trigram in 10⁶ docs makes 10¹² candidate pairs — the
    * classic inverted-index blowup. Dropping shingles with df > K is the
    * standard stop-shingle mitigation: Jaccard is then computed over the
    * FILTERED sets (both intersection and sizes), which only loses pairs
    * whose similarity rests on shingles shared by >K documents — i.e.
    * pairs that aren't near-duplicates in any meaningful sense. The
    * oracle SQL applies the identical cap. */
  val NgramMaxShingleDfDefault = 10000

  /** Exact 3-gram Jaccard near-dup pairs (inverted-index join), hot
    * shingles df-capped — see [[NgramMaxShingleDfDefault]]. */
  def qNgramJaccard(spark: SparkSession, sfDir: String): DataFrame = {
    val maxDf = spark.conf.getOption("spark.graft.dedup.ngram.maxShingleDf")
      .map(_.toLong).getOrElse(NgramMaxShingleDfDefault.toLong)
    val docs = Tables.load(spark, sfDir, "documents")
    // the shingle relation feeds the df agg, the self-join (twice) and
    // the size agg: persist so tokenization+shingling runs once
    val raw = docs
      .select(col("doc_id"),
        explode(graft.functions.SimHashFunctions.shingleStrings3(
          tokens(col("text")))).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stop-shingle filter: df = distinct docs containing the shingle;
    // the surviving relation is what both the sizes and the join see
    val hot = raw.groupBy(col("sh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDf)
      .select(col("sh"))
    val sh = raw.join(hot, Seq("sh"), "left_anti")
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val pairs = sh.as("a").join(sh.as("b"),
        col("a.sh") === col("b.sh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("inter"))
    pairs
      .join(sizes.as("s1"), col("d1") === col("s1.doc_id"))
      .join(sizes.as("s2"), col("d2") === col("s2.doc_id"))
      .select(col("d1"), col("d2"), col("inter"),
        (col("inter").cast(DoubleType) /
          (col("s1.n") + col("s2.n") - col("inter")).cast(DoubleType))
          .as("jaccard"))
      .filter(col("jaccard") >= 0.8)
      .orderBy(col("d1"), col("d2"))
  }

  val qNgramJaccardSql: String = {
    val shs = sqlShingles3(sqlTokens("text"))
    s"""WITH raw AS (
       |  SELECT doc_id, unnest($shs) AS sh FROM documents),
       |hot AS (
       |  SELECT sh FROM raw GROUP BY sh
       |  HAVING COUNT(DISTINCT doc_id) > $NgramMaxShingleDfDefault),
       |sh AS (
       |  SELECT doc_id, sh FROM raw
       |  WHERE sh NOT IN (SELECT sh FROM hot)),
       |sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS inter
       |  FROM sh a JOIN sh b ON a.sh = b.sh AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2)
       |SELECT d1, d2, inter,
       |  CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) AS jaccard
       |FROM pairs
       |JOIN sizes s1 ON d1 = s1.doc_id
       |JOIN sizes s2 ON d2 = s2.doc_id
       |WHERE CAST(inter AS DOUBLE) / CAST(s1.n + s2.n - inter AS DOUBLE) >= 0.8
       |ORDER BY d1, d2""".stripMargin
  }

  // --------------------------------------------------------- minhash lsh
  /** MinHash+LSH candidate generation, then exact-Jaccard verification.
    * Output = verified near-dup pairs found via the LSH path.
    *
    * Scale shape (the 100 TB path, in order):
    *  1. one codegen pass/row builds the 16-slot signature
    *     ([[graft.functions.MinHashSignature]]) — K running minima in a
    *     local long[], not K array traversals;
    *  2. the band self-join carries ONLY (doc_id, band, key) — constant
    *     ~40 bytes/row exchange payload instead of the full shingle-hash
    *     array on both sides;
    *  3. candidate pairs are distinct-ed BEFORE verification so each pair
    *     is verified once even when it collides in several bands;
    *  4. verification re-joins the (tiny, ∝ true dups) candidate set
    *     against the corpus with broadcast hints — the corpus is streamed,
    *     never shuffled. */
  def qMinHashLsh(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.MinHashFunctions.minhashSignature
    val docs = Tables.load(spark, sfDir, "documents")
    val hsExpr = shingleHashSet(col("text"))

    // 16-permutation signature in one pass over the corpus (no persist —
    // each stage below re-reads the parquet scan but runs the expensive
    // md5-shingle pipeline at most once per row it actually needs),
    // banded 4x4; band key = string of 4 minhashes (same as the oracle)
    val sig = minhashSignature(col("hs"),
      (0 until MinHashK).map(permA), (0 until MinHashK).map(permB), HashP)
    val bandCols = (0 until LshBands).map { b =>
      val mins = (0 until LshRows)
        .map(r => element_at(col("sig"), b * LshRows + r + 1))
      struct(lit(b).as("band"),
        concat_ws(",", mins.map(_.cast("string")): _*).as("key")).as(s"b$b")
    }
    // persist the BANDS, not the shingle-hash arrays: 4 rows x ~50 bytes
    // per doc (constant-size), so the cache stays O(|corpus|) small at
    // 100 TB while the md5-shingle pipeline runs exactly once — the band
    // self-join would otherwise recompute it on both sides
    val bands = docs
      .select(col("doc_id"), hsExpr.as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("doc_id"), sig.as("sig"))
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

    // exact-Jaccard verify: broadcast ONLY the bare (d1,d2) pairs into
    // each doc scan — never rows carrying hash arrays, which a skewed
    // band key could blow up to broadcast-OOM size. Shingle hashes are
    // recomputed just for rows that survive each join, and the final
    // pair-up shuffles only candidate rows (graceful under skew).
    val withA = docs
      .join(broadcast(cand), col("doc_id") === col("d1"))
      .select(col("d1"), col("d2"), hsExpr.as("hs1"))
    val withB = docs
      .join(broadcast(cand.select(col("d2")).distinct()),
        col("doc_id") === col("d2"))
      .select(col("d2").as("bd2"), hsExpr.as("hs2"))
    withA
      .join(withB, col("d2") === col("bd2"))
      .select(col("d1"), col("d2"), col("hs1"), col("hs2"))
      .select(col("d1"), col("d2"),
        size(array_intersect(col("hs1"), col("hs2"))).cast(LongType)
          .as("inter"),
        size(col("hs1")).cast(LongType).as("n1"),
        size(col("hs2")).cast(LongType).as("n2"))
      .select(col("d1"), col("d2"),
        (col("inter").cast(DoubleType) /
          (col("n1") + col("n2") - col("inter")).cast(DoubleType)).as("jaccard"))
      .filter(col("jaccard") >= 0.5)
      .orderBy(col("d1"), col("d2"))
  }

  val qMinHashLshSql: String = {
    val hs = sqlShingleHashes(sqlShingles3(sqlTokens("text")))
    val bandRows = (0 until LshBands).map { b =>
      val mins = (0 until LshRows)
        .map(r => s"CAST(${sqlMinHash("hs", b * LshRows + r)} AS VARCHAR)")
      s"SELECT doc_id, $b AS band, ${mins.mkString(" || ',' || ")} AS key FROM base"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT doc_id, $hs AS hs FROM documents WHERE len($hs) > 0),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |verified AS (
       |  SELECT d1, d2,
       |    CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) /
       |    CAST(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs)) AS DOUBLE)
       |      AS jaccard
       |  FROM cand
       |  JOIN base x ON cand.d1 = x.doc_id
       |  JOIN base y ON cand.d2 = y.doc_id)
       |SELECT d1, d2, jaccard FROM verified
       |WHERE jaccard >= 0.5
       |ORDER BY d1, d2""".stripMargin
  }

  // -------------------------------------------------------------- simhash
  /** 60-bit SimHash per document over distinct token hashes, plus
    * duplicate-fingerprint groups (docs sharing a simhash). */
  def qSimHash(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.SimHashFunctions._
    val docs = Tables.load(spark, sfDir, "documents")
    // fused native pipeline: distinct token hashes + 60-bit majority vote
    // in two codegen passes (the composed HOF form traversed the hash
    // array once PER BIT; spec-verified parity)
    docs.select(col("doc_id"), tokenHashes60(tokens(col("text"))).as("hs"))
      .select(col("doc_id"),
        simhash60(col("hs")).as("simhash"),
        size(col("hs")).cast(LongType).as("n_distinct_tokens"))
      .orderBy(col("doc_id"))
  }

  val qSimHashSql: String = {
    val bitTerms = (0 until 60).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         | h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         | THEN ${1L << b} ELSE 0 END""".stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(${sqlTokens("text")},
       |      t -> ${sqlTokenHash("t")})) AS hs
       |  FROM documents)
       |SELECT doc_id, $bitTerms AS simhash,
       |  CAST(len(hs) AS BIGINT) AS n_distinct_tokens
       |FROM base
       |ORDER BY doc_id""".stripMargin
  }

  // ------------------------------------------------- simhash hamming ball
  /** Near-dup pairs within Hamming distance 3 of the 60-bit SimHash,
    * found via the pigeonhole banding trick: split the fingerprint into
    * 4 bands of 15 bits — any pair within distance 3 must agree exactly
    * on at least one band — self-join on (band, bandKey), then verify
    * `bit_count(xor) <= 3` on the collision rows.
    *
    * Scale shape: each row carries ONE long through the band join
    * (constant payload — the property the minhash variant had to
    * engineer around), band keys are uniform hash bits (no skew), and
    * verification is a scalar popcount on collision rows. */
  def qSimHashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.SimHashFunctions._
    val docs = Tables.load(spark, sfDir, "documents")
    val fp = docs.select(col("doc_id"),
      simhash60(tokenHashes60(tokens(col("text")))).as("simhash"))
    // persist: constant ~30 bytes/row, and the self-join below would
    // otherwise run the tokenize+hash+simhash pipeline on BOTH sides
    val bands = fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))
              .as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash")))
          .cast(LongType).as("hamming"))
      .filter(col("hamming") <= 3)
      .distinct()
      .orderBy(col("d1"), col("d2"))
  }

  val qSimHashPairsSql: String = {
    val bitTerms = (0 until 60).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         | h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         | THEN ${1L << b} ELSE 0 END""".stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS key FROM fp"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(${sqlTokens("text")},
       |      t -> ${sqlTokenHash("t")})) AS hs
       |  FROM documents),
       |fp AS (SELECT doc_id, $bitTerms AS simhash FROM base),
       |bands AS (
       |  $bandRows)
       |SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b
       |  ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
       |ORDER BY d1, d2""".stripMargin
  }

  // -------------------------------------------- duplicate-cluster closure
  /** Connected components over the SimHash near-dup graph: pairs within
    * Hamming distance 3 become edges, components are closed transitively,
    * and each document maps to its cluster's CANONICAL id (the minimum
    * doc_id in the component) — the cluster/keep-one step every real
    * dedup pipeline runs after pair generation (pairs alone under-remove:
    * A~B and B~C must collapse A,B,C together even when A!~C).
    *
    * Scale shape: iterative min-label propagation — each round is one
    * shuffle join of the (node,label) frame with the edge list plus a
    * min-aggregate, and the label sum is monotonically decreasing so
    * convergence is a cheap scalar check per round. Rounds needed = graph
    * diameter, which for near-dup clusters is small (they are
    * quasi-cliques); a worst-case chain-heavy graph would switch this to
    * the large-star/small-star algorithm (same join building blocks,
    * O(log n) rounds guaranteed). Edges and labels are tiny relative to
    * the corpus (pairs only), so every per-round frame broadcasts or
    * shuffles in one partition wave at 100 TB corpus scale. */
  def qDedupComponents(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.SimHashFunctions._
    val docs = Tables.load(spark, sfDir, "documents")
    val fp = docs.select(col("doc_id"),
      simhash60(tokenHashes60(tokens(col("text")))).as("simhash"))
    val bands = fp.select(col("doc_id"), col("simhash"),
        explode(array((0 until 4).map { b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * 15).bitwiseAND(lit(0x7FFFL))
              .as("key"))
        }: _*)).as("bk"))
      .select(col("doc_id"), col("simhash"),
        col("bk.band").as("band"), col("bk.key").as("key"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val pairs = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= 3)
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()
    val pairRows =
      pairs.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // ADAPTIVE closure strategy. The near-dup pair list is orders of
    // magnitude smaller than the corpus (only colliding docs survive the
    // band join), so below a threshold the cheapest correct plan is a
    // driver-side union-find over the collected edges — the same
    // "edge list fits one machine" observation every production dedup
    // pipeline exploits. Collected edges cost ~100 B each (Row + two
    // boxed longs + HashMap entries), so the DEFAULT threshold derives
    // from the actual driver heap: ~10% of Runtime.maxMemory at 100 B
    // per edge (a 1 GiB driver gets ~1M edges, a 64 GiB driver ~67M)
    // instead of a constant that silently assumed a heap size. Above the
    // threshold we fall back to distributed min-label propagation with
    // pointer doubling. Both paths produce the identical
    // (doc_id, min-id component) mapping — spec-asserted.
    val labeled =
      if (pairRows.count() <= localEdgeThreshold(spark)) componentsLocal(spark, pairRows)
      else componentsDistributed(spark, pairRows)
    // both paths have materialized their result (collect / eager
    // localCheckpoint), so the upstream caches release deterministically
    // here rather than riding until a harness cache clear
    bands.unpersist()
    pairRows.unpersist()
    labeled.orderBy(col("doc_id"))
  }

  /** Max edges the driver union-find may collect:
    * `spark.graft.cc.localEdgeThreshold` if set, else ~10% of the
    * driver's max heap at ~100 bytes/edge — honest about the actual JVM
    * instead of a constant that assumed one. */
  private[graft] def localEdgeThreshold(spark: SparkSession): Long =
    spark.conf.getOption("spark.graft.cc.localEdgeThreshold")
      .map(_.toLong)
      .getOrElse(Runtime.getRuntime.maxMemory / 10 / 100)

  /** Driver union-find (path-halving + union-by-size) over a collected
    * edge list; representative = min doc_id per component. O(E α(E)). */
  private def componentsLocal(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val parent = new scala.collection.mutable.HashMap[Long, Long]()
    val sz = new scala.collection.mutable.HashMap[Long, Int]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x)) // path halving
        x = parent(x)
      }
      x
    }
    def union(a: Long, b: Long): Unit = {
      Seq(a, b).foreach(n => if (!parent.contains(n)) { parent(n) = n; sz(n) = 1 })
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (big, small) = if (sz(ra) >= sz(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        sz(big) += sz(small)
      }
    }
    pairs.select(col("d1"), col("d2")).collect()
      .foreach(r => union(r.getLong(0), r.getLong(1)))
    val minOfRoot = new scala.collection.mutable.HashMap[Long, Long]()
    parent.keys.foreach { n =>
      val r = find(n)
      minOfRoot(r) = math.min(minOfRoot.getOrElse(r, Long.MaxValue), n)
    }
    val out = parent.keys.toSeq.sorted.map(n => (n, minOfRoot(find(n))))
    import spark.implicits._
    out.toDF("doc_id", "component")
  }

  /** Distributed closure: min-label propagation with POINTER DOUBLING —
    * each round relaxes labels across edges AND hops label -> label-of-
    * label, so convergence is O(log diameter) rounds instead of
    * O(diameter). Every per-round frame is pair-sized (never corpus-
    * sized); localCheckpoint per round TRUNCATES LINEAGE — without it
    * the plan of round r embeds all r-1 previous rounds and the driver
    * dies optimizing an exponentially growing tree (the standard
    * iterative-graph pitfall; a cluster deployment would use a reliable
    * checkpoint dir instead of local blocks). */
  private def componentsDistributed(spark: SparkSession, pairs: DataFrame): DataFrame = {
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("label", col("node"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): Long =
      Option(df.agg(sum(col("label"))).head().get(0))
        .map(_.asInstanceOf[Long]).getOrElse(0L)
    var prevSum = labelSum(labels)
    var converged = prevSum == 0L // empty graph: nothing to propagate
    var rounds = 0
    // termination is guaranteed: the label sum strictly decreases every
    // non-converged round (labels only move down), so rounds <= graph
    // diameter <= node count. The valve below is a sanity bound that
    // THROWS — silently returning an under-merged clustering would
    // diverge from the exact recursive-CTE oracle.
    val maxRounds = 10000
    while (!converged && rounds < maxRounds) {
      val relaxed = labels.as("l")
        .join(edges.as("e"), col("e.dst") === col("l.node"))
        .select(col("e.src").as("node"), col("l.label").as("label"))
      // pointer doubling: node -> label(label(node)). label always names
      // a node present in `labels`, so the self-join is total.
      val hopped = labels.as("x")
        .join(labels.as("y"), col("x.label") === col("y.node"))
        .select(col("x.node").as("node"), col("y.label").as("label"))
      val next = relaxed.union(hopped).union(labels)
        .groupBy(col("node")).agg(min(col("label")).as("label"))
        .localCheckpoint(true)
      val s = labelSum(next)
      labels.unpersist()
      labels = next
      converged = s == prevSum // labels only decrease: equal sum = fixpoint
      prevSum = s
      rounds += 1
    }
    require(converged, s"component propagation did not converge in $maxRounds rounds")
    edges.unpersist()
    labels
      .select(col("node").as("doc_id"), col("label").cast(LongType).as("component"))
  }

  /** The components CTE chain (everything after `WITH RECURSIVE`, through
    * `comp`), exposed so composite oracles (pipeline_curate) can splice
    * the identical closure into a larger query. */
  val componentsCtesSql: String = {
    val bitTerms = (0 until 60).map { b =>
      s"""CASE WHEN list_sum(list_transform(hs,
         | h -> CASE WHEN (h >> $b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
         | THEN ${1L << b} ELSE 0 END""".stripMargin.replaceAll("\n", " ")
    }.mkString(" + ")
    val bandRows = (0 until 4).map { b =>
      s"SELECT doc_id, simhash, $b AS band, (simhash >> ${b * 15}) & 32767 AS key FROM fp"
    }.mkString("\n  UNION ALL\n  ")
    s"""cc_base AS (
       |  SELECT doc_id,
       |    list_distinct(list_transform(${sqlTokens("text")},
       |      t -> ${sqlTokenHash("t")})) AS hs
       |  FROM documents),
       |fp AS (SELECT doc_id, $bitTerms AS simhash FROM cc_base),
       |cc_bands AS (
       |  $bandRows),
       |cc_pairs AS (
       |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM cc_bands a JOIN cc_bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
       |  WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |cc_edges AS (
       |  SELECT d1 AS src, d2 AS dst FROM cc_pairs
       |  UNION SELECT d2, d1 FROM cc_pairs),
       |reach(node, label) AS (
       |  SELECT DISTINCT src AS node, src AS label FROM cc_edges
       |  UNION
       |  SELECT e.src, r.label FROM reach r JOIN cc_edges e ON e.dst = r.node),
       |comp AS (
       |  SELECT node AS doc_id, CAST(MIN(label) AS BIGINT) AS component
       |  FROM reach GROUP BY node)""".stripMargin
  }

  val qDedupComponentsSql: String =
    s"""WITH RECURSIVE $componentsCtesSql
       |SELECT doc_id, component FROM comp ORDER BY doc_id""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "dedup_exact" -> (qDedupExact _, qDedupExactSql),
    "dedup_ngram_jaccard" -> (qNgramJaccard _, qNgramJaccardSql),
    "dedup_minhash_lsh" -> (qMinHashLsh _, qMinHashLshSql),
    "dedup_simhash" -> (qSimHash _, qSimHashSql),
    "dedup_simhash_pairs" -> (qSimHashPairs _, qSimHashPairsSql),
    "dedup_components" -> (qDedupComponents _, qDedupComponentsSql))
}
