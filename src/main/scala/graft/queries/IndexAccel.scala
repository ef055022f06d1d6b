package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.index.{GraftConf, IndexConfig, IndexManager, IndexState}
import graft.index.covering.CoveringIndexConfig

/**
 * Driver-gate queries that run THROUGH the index subsystem: each entry
 * ensures its index exists, then runs a plain DataFrame query that the
 * optimizer rule transparently rewrites to the index. The DuckDB oracle
 * sees only the source tables — matching results prove the rewrite is
 * semantics-preserving end-to-end.
 */
object IndexAccel {

  private def moneySum(c: org.apache.spark.sql.Column) =
    sum(c.cast(DecimalType(28, 6))).cast(DoubleType)
  private def sqlMoneySum(e: String): String =
    s"CAST(SUM(CAST(($e) AS DECIMAL(28,6))) AS DOUBLE)"

  /** Per-(sfDir, numBuckets) system path so indexes built at one scale
    * factor or bucket config never leak into another — a 32-bucket Bench
    * build and a 4-bucket test build must not reuse each other's layout. */
  private def ensureSystemPath(spark: SparkSession, sfDir: String): Unit = {
    val h = Integer.toHexString(sfDir.hashCode)
    val b = GraftConf.numBuckets(spark)
    spark.conf.set(GraftConf.SystemPathKey,
      sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_accel_${h}_b$b")
  }

  private[queries] def ensureIndex(spark: SparkSession, sfDir: String,
      table: String, config: IndexConfig): Unit = synchronized {
    ensureSystemPath(spark, sfDir)
    val mgr = new IndexManager(spark)
    // existence check through the TTL'd catalog cache (invalidated by
    // every in-JVM mutation): the manager's getIndexes re-lists the
    // system path and re-reads every index's JSON log — 4-6 ensureIndex
    // calls per accelerated query made that a per-pass planning tax
    val active = graft.index.rules.IndexCatalog.activeIndexes(spark)
      .find(_.name == config.indexName)
    // a persisted index whose DEFINITION drifted from the config (an
    // older build of this suite) must rebuild, not serve stale shape
    val stale = active.exists { e =>
      (config, e.descriptor) match {
        case (c: graft.index.ivf.IvfIndexConfig,
              d: graft.index.ivf.IvfIndexDescriptor) =>
          d.k != c.k || d.maxIter != c.maxIter || d.pqIter != c.pqIter ||
            d.pqM != (if (c.pqM > 0) Some(c.pqM) else None)
        case (c: graft.index.covering.CoveringIndexConfig,
              d: graft.index.covering.CoveringIndexDescriptor) =>
          d.indexedColumns != c.indexedColumns ||
            d.includedColumns.toSet != c.includedColumns.toSet
        case _ => false
      }
    }
    if (stale) {
      mgr.delete(config.indexName)
      mgr.vacuum(config.indexName)
    }
    if (active.isEmpty || stale) {
      mgr.create(Tables.load(spark, sfDir, table), config)
    }
  }

  private[queries] def ensureIndex(spark: SparkSession, sfDir: String,
      entry: AccelIndexes.Entry): Unit =
    ensureIndex(spark, sfDir, entry._1, entry._2)

  /** Materialize the FULL parquet accel-index corpus (plus the rank-tie
    * decoy). Plan-pinning suites call this before rendering any plan:
    * the ranker's narrower-index preference means a plan is only
    * deterministic against a fixed candidate set, and the fixed point
    * is "all of them" — see [[AccelIndexes]]. Idempotent and cached in
    * the shared /tmp fixture, so the cost is one cold build per
    * (sfDir, bucket-count). */
  def ensureCorpus(spark: SparkSession, sfDir: String): Unit = {
    AccelIndexes.all.foreach(e => ensureIndex(spark, sfDir, e))
    ensureRank8Decoy(spark, sfDir)
  }

  /** The rank-tie decoy: same key and coverage as accel_ci_li_join but
    * 8 buckets (a per-config override — the shared session conf is
    * never touched). The ranker must prefer the session-bucket-count
    * index. */
  private[queries] def ensureRank8Decoy(spark: SparkSession,
      sfDir: String): Unit = synchronized {
    ensureSystemPath(spark, sfDir)
    val mgr = new IndexManager(spark)
    val active = graft.index.rules.IndexCatalog.activeIndexes(spark)
      .map(_.name).toSet
    if (!active.contains("accel_ci_li_rank8")) {
      mgr.create(Tables.load(spark, sfDir, "lineitem"),
        CoveringIndexConfig("accel_ci_li_rank8",
          Seq("l_orderkey"), Seq("l_extendedprice"), numBuckets = Some(8)))
    }
  }

  // ------------------------------------------------ covering filter
  def idxCoveringFilter(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.li)
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_orderkey").between(100L, 2000L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_quantity")).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_price"))
  }

  val idxCoveringFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_quantity")} AS sum_qty,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price
       |FROM lineitem WHERE l_orderkey BETWEEN 100 AND 2000""".stripMargin

  /** The index lifecycle driven PURELY from SQL (`CREATE INDEX` →
    * [[graft.sql.GraftCreateIndexCommand]] → the SAME Graft API the
    * programmatic surface uses): the covering index the statement
    * creates must then transparently SERVE the filter query below — the
    * golden plan pins the index scan, the oracle pins the values. */
  def idxSqlCreated(spark: SparkSession, sfDir: String): DataFrame = {
    ensureSystemPath(spark, sfDir)
    synchronized {
      // keyed on a column NO other corpus index uses (s_nationkey): an
      // equivalent twin of an existing index would make every plan that
      // index serves depend on ranker tie-breaks against this one
      if (!graft.index.rules.IndexCatalog.activeIndexes(spark)
          .exists(_.name == "sqlci_supp")) {
        spark.sql(
          s"CREATE INDEX sqlci_supp ON parquet.`$sfDir/supplier.parquet` " +
            "(s_nationkey) INCLUDE (s_acctbal) USING COVERING")
      }
    }
    Tables.load(spark, sfDir, "supplier")
      .filter(col("s_nationkey").between(3, 11))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("s_acctbal")).as("sum_bal"))
  }

  val idxSqlCreatedSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("s_acctbal")} AS sum_bal
       |FROM supplier WHERE s_nationkey BETWEEN 3 AND 11""".stripMargin

  /** A bloom data-skipping index created through the SQL OPTIONS clause
    * (round 15 — the r14 DDL hard-coded min-max): the oracle row proves
    * the conf-mapped sketch serves end-to-end; file-pruning behavior is
    * pinned separately in IndexSqlSpec on a multi-file fixture. */
  def idxSqlBloom(spark: SparkSession, sfDir: String): DataFrame = {
    ensureSystemPath(spark, sfDir)
    synchronized {
      if (!graft.index.rules.IndexCatalog.activeIndexes(spark)
          .exists(_.name == "sqlci_bloom")) {
        spark.sql(
          s"CREATE INDEX sqlci_bloom ON parquet.`$sfDir/supplier.parquet` " +
            "(s_name) USING DATASKIPPING " +
            "OPTIONS (sketch = 'bloom', expectedItems = 20000, fpp = 0.001)")
      }
    }
    Tables.load(spark, sfDir, "supplier")
      .filter(col("s_name").isin("Supplier#000000007",
        "Supplier#000000042", "Supplier#000000077"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("s_acctbal")).as("sum_bal"))
  }

  val idxSqlBloomSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("s_acctbal")} AS sum_bal
       |FROM supplier WHERE s_name IN ('Supplier#000000007',
       | 'Supplier#000000042', 'Supplier#000000077')""".stripMargin

  // ------------------------------------------------ shuffle-free join
  def idxJoin(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liJoin)
    ensureIndex(spark, sfDir, AccelIndexes.ordJoin)
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("o_totalprice")).as("sum_total"))
  }

  val idxJoinSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price,
       | ${sqlMoneySum("o_totalprice")} AS sum_total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ------------------------------------------------ z-order filter
  def idxZOrderFilter(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.zoLi)
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_suppkey").between(1L, 50L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_quantity")).as("sum_qty"))
  }

  val idxZOrderFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_quantity")} AS sum_qty
       |FROM lineitem WHERE l_suppkey BETWEEN 1 AND 50""".stripMargin

  // ------------------------------------------------ data skipping
  def idxDataSkipFilter(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.dsLi)
    Tables.load(spark, sfDir, "lineitem")
      .filter(col("l_orderkey") <= 500L && col("l_suppkey").isin(1L, 2L, 3L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        sum(col("l_orderkey")).cast(LongType).as("sum_key"))
  }

  val idxDataSkipFilterSql: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
      | CAST(SUM(l_orderkey) AS BIGINT) AS sum_key
      |FROM lineitem
      |WHERE l_orderkey <= 500 AND l_suppkey IN (1, 2, 3)""".stripMargin

  // ------------------------------------------------ minhash near-dup
  /** Near-duplicate pairs served from the PERSISTED MinHash index (built
    * once per sfDir, reused across runs) — the oracle recomputes the
    * same signatures/bands/estimates from the raw documents table, so a
    * match proves the persisted signatures reproduce the from-scratch
    * pipeline exactly. */
  def idxMinHashPairs(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, "documents",
      graft.index.minhash.MinHashIndexConfig("accel_mh_docs", "doc_id", "text"))
    ensureSystemPath(spark, sfDir)
    new graft.Graft(spark).nearDuplicates("accel_mh_docs", minEstJaccard = 0.5)
      .orderBy(col("id1"), col("id2"))
  }

  val idxMinHashPairsSql: String = {
    import TextPrimitives._
    val hs = sqlShingleHashes(sqlShingles3(sqlTokens("text")))
    val slots = (0 until MinHashK).map(i => sqlMinHash("hs", i)).mkString("[", ", ", "]")
    val bandRows = (0 until LshBands).map { b =>
      val mins = (0 until LshRows)
        .map(r => s"CAST(s[${b * LshRows + r + 1}] AS VARCHAR)")
      s"SELECT doc_id, $b AS band, ${mins.mkString(" || ',' || ")} AS key FROM sig"
    }.mkString("\n  UNION ALL\n  ")
    s"""WITH base AS (
       |  SELECT doc_id, $hs AS hs FROM documents),
       |sig AS (
       |  SELECT doc_id, $slots AS s FROM base WHERE len(hs) > 0),
       |bands AS (
       |  $bandRows),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id),
       |est AS (
       |  SELECT id1, id2,
       |    CAST(list_sum(list_transform(range(1, ${MinHashK + 1}),
       |      i -> CASE WHEN x.s[i] = y.s[i] THEN 1 ELSE 0 END)) AS DOUBLE)
       |      / ${MinHashK}.0 AS est_jaccard
       |  FROM cand JOIN sig x ON cand.id1 = x.doc_id
       |            JOIN sig y ON cand.id2 = y.doc_id)
       |SELECT id1, id2, est_jaccard FROM est
       |WHERE est_jaccard >= 0.5
       |ORDER BY id1, id2""".stripMargin
  }

  // ------------------------------------------------ IVFADC ann search
  /** Top-5 ANN served from the persisted IVF+PQ index (IVFADC): queries
    * probe their 2 nearest cells, the ADC pass ranks ONLY those cells'
    * stored PQ codes (the raw vector column never enters the ranking
    * scan — GoldenPlanSpec pins both the cell pruning and the pruned
    * ReadSchema), and the exact rerank touches just the per-query
    * shortlist. Everything is oracle-reproducible: `maxIter = 0`
    * freezes the IVF codebook at the deterministic md5-seeded vectors,
    * and `pqIter = 0` anchors the PQ codewords at sub-slices of the 16
    * md5-smallest corpus rows (same deterministic ordering). */
  def idxIvfPqTopK(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, "embeddings", graft.index.ivf.IvfIndexConfig(
      "accel_ivfpq_emb", "vec_id", "embedding", k = 8, maxIter = 0,
      pqM = 16, pqIter = 0))
    ensureSystemPath(spark, sfDir)
    val queries = Tables.load(spark, sfDir, "embeddings")
      .filter(col("vec_id") % 10 === 0)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    new graft.Graft(spark).annSearch("accel_ivfpq_emb", queries,
        topK = 5, nProbe = 2)
      .select(col("qid"), col("vec_id").as("nid"),
        col("rank").cast(LongType).as("rank"), col("cosine"))
      .orderBy(col("qid"), col("rank"))
  }

  val idxIvfPqTopKSql: String = {
    def sqlDot(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), p -> p[1] * p[2]), (acc, t) -> acc + t)"
    def sqlSqDist(a: String, b: String): String =
      s"list_reduce(list_transform(list_zip($a, $b), p -> (p[1] - p[2]) * (p[1] - p[2])), (acc, t) -> acc + t)"
    val h = "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT)"
    // sub-vector m (4-wide) of x, m coming from a range() table column
    def sub(x: String, m: String) = s"$x[CAST($m*4+1 AS INT):CAST($m*4+4 AS INT)]"
    s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |nrm AS (SELECT vec_id, v, sqrt(${sqlDot("v", "v")}) AS nrm FROM e),
       |ord AS (SELECT v AS cv,
       |    ROW_NUMBER() OVER (ORDER BY $h, vec_id) - 1 AS r FROM e),
       |seeds AS (SELECT cv, r AS cell FROM ord WHERE r < 8),
       |asg AS (
       |  SELECT vec_id, v, nrm, cell FROM (
       |    SELECT n.vec_id, n.v, n.nrm, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY n.vec_id
       |        ORDER BY ${sqlSqDist("n.v", "c.cv")}, c.cell) AS rn
       |    FROM nrm n CROSS JOIN seeds c) WHERE rn = 1),
       |cw AS (SELECT t.m, k.r AS k, ${sub("k.cv", "t.m")} AS w
       |  FROM range(0, 16) t(m), (SELECT cv, r FROM ord WHERE r < 16) k),
       |cdist AS (
       |  SELECT a.vec_id, c.m, c.k,
       |    ${sqlSqDist(sub("a.v", "c.m"), "c.w")} AS dd
       |  FROM asg a CROSS JOIN cw c),
       |code1 AS (
       |  SELECT vec_id, m, k + 1 AS code FROM (
       |    SELECT vec_id, m, k, ROW_NUMBER() OVER (PARTITION BY vec_id, m
       |      ORDER BY dd, k) AS rn FROM cdist) WHERE rn = 1),
       |codes AS (
       |  SELECT vec_id AS nid, list(code ORDER BY m) AS codes
       |  FROM code1 GROUP BY vec_id),
       |q0 AS (SELECT vec_id AS qid, v, nrm AS qn FROM nrm
       |  WHERE vec_id % 10 = 0),
       |qtd AS (
       |  SELECT q.qid, c.m, c.k, ${sqlDot(sub("q.v", "c.m"), "c.w")} AS qd
       |  FROM q0 q CROSS JOIN cw c),
       |qtrow AS (
       |  SELECT qid, m, list(qd ORDER BY k) AS row FROM qtd GROUP BY qid, m),
       |qt AS (
       |  SELECT qid, list(row ORDER BY m) AS qtab FROM qtrow GROUP BY qid),
       |qprobe AS (
       |  SELECT qid, qn, cell AS pcell FROM (
       |    SELECT q.qid, q.qn, c.cell,
       |      ROW_NUMBER() OVER (PARTITION BY q.qid
       |        ORDER BY ${sqlSqDist("q.v", "c.cv")}, c.cell) AS prn
       |    FROM q0 q CROSS JOIN seeds c) WHERE prn <= 2),
       |adc AS (
       |  SELECT p.qid, a.vec_id AS nid,
       |    list_reduce(list_transform(list_zip(n.codes, t.qtab),
       |      x -> (x[2])[CAST(x[1] AS INT)]), (acc, t) -> acc + t)
       |      / (p.qn * a.nrm) AS cosine_adc
       |  FROM qprobe p
       |  JOIN asg a ON a.cell = p.pcell
       |  JOIN codes n ON n.nid = a.vec_id
       |  JOIN qt t ON t.qid = p.qid),
       |short AS (
       |  SELECT qid, nid FROM (
       |    SELECT qid, nid, ROW_NUMBER() OVER (PARTITION BY qid
       |      ORDER BY cosine_adc DESC, nid) AS srank FROM adc)
       |  WHERE srank <= 15),
       |exact AS (
       |  SELECT s.qid, s.nid,
       |    ${sqlDot("qe.v", "ne.v")} / (qe.nrm * ne.nrm) AS cosine
       |  FROM short s
       |  JOIN nrm qe ON s.qid = qe.vec_id
       |  JOIN nrm ne ON s.nid = ne.vec_id)
       |SELECT qid, nid, CAST(rank AS BIGINT) AS rank, cosine FROM (
       |  SELECT qid, nid, cosine, ROW_NUMBER() OVER (PARTITION BY qid
       |    ORDER BY cosine DESC, nid) AS rank FROM exact)
       |WHERE rank <= 5
       |ORDER BY qid, rank""".stripMargin
  }

  // ------------------------------------------ snowflake 2-index join
  /** Three-way snowflake join (lineitem → orders → customer) through
    * THREE covering indexes picked together: the lineitem/orders pair
    * rewrite goes shuffle-free (both sides bucketed on the join key, no
    * exchange between the two index scans — GoldenPlanSpec pins it), and
    * the customer dimension scan-swaps to its index under the inferred
    * not-null filter. Exercises JoinIndexRule pair selection alongside
    * FilterIndexRule on a third relation in one plan. */
  def idxSnowflake2(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liJoin)
    ensureIndex(spark, sfDir, AccelIndexes.ordSnow)
    ensureIndex(spark, sfDir, AccelIndexes.cust)
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("c_acctbal")).as("sum_bal"))
  }

  val idxSnowflake2Sql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  // ------------------------------------- deep-snowflake plan corpus
  // TPC-DS-shaped multi-index queries: several covering indexes,
  // JoinOneSideIndexRule and AggIndexRule are eligible AT ONCE and the
  // score-based optimizer must pick the global-best combination. Golden
  // plans pin the exchange-minimal shapes; oracles pin the values.

  /** 4-table snowflake chain (lineitem → orders → customer → nation)
    * grouped by nation: three join legs with index pairs on the first
    * two, a one-sided leg into tiny nation. At 100 TB the first two
    * joins are the data movers — bucketed index pairs make them
    * exchange-free on the fact side. */
  def idxSnowflake3(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liJoin)
    ensureIndex(spark, sfDir, AccelIndexes.ordSnow)
    ensureIndex(spark, sfDir, AccelIndexes.custNat)
    // the nation leg joins bucketed too (same config as the qds fixture
    // shares) — without its own ensure the plan silently depended on
    // WHICH other suite had populated the cached fixture first
    ensureIndex(spark, sfDir, AccelIndexes.nationDim)
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val nat = Tables.load(spark, sfDir, "nation")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(cust, ord("o_custkey") === cust("c_custkey"))
      .join(nat, cust("c_nationkey") === nat("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy(col("n_name"))
  }

  val idxSnowflake3Sql: String =
    s"""SELECT n_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation ON c_nationkey = n_nationkey
       |GROUP BY n_name ORDER BY n_name""".stripMargin

  /** Star + aggregate: the per-customer spend aggregation runs
    * SHUFFLE-FREE off the o_custkey-bucketed index (AggIndexRule), and
    * the join into customer uses the customer index one-sided
    * (JoinOneSideIndexRule) — both rules fire in ONE plan, which is the
    * whole point of the score-based combination search. */
  def idxStarAgg(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.ordAgg)
    ensureIndex(spark, sfDir, AccelIndexes.cust)
    val ord = Tables.load(spark, sfDir, "orders")
    val cust = Tables.load(spark, sfDir, "customer")
    val perCust = ord.groupBy(col("o_custkey"))
      .agg(moneySum(col("o_totalprice")).as("cust_spend"))
    perCust.join(cust, col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).cast(LongType).as("n_cust"),
        moneySum(col("cust_spend")).as("sum_spend"),
        moneySum(col("c_acctbal")).as("sum_bal"))
  }

  val idxStarAggSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_cust,
       | ${sqlMoneySum("cust_spend")} AS sum_spend,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM (
       |  SELECT o_custkey, ${sqlMoneySum("o_totalprice")} AS cust_spend
       |  FROM orders GROUP BY o_custkey
       |) per_cust
       |JOIN customer ON o_custkey = c_custkey""".stripMargin

  /** Rule rivalry on ONE scan: the lineitem leaf is eligible for BOTH a
    * filter-index rewrite (score 50) and a join-index pair rewrite
    * (score 140) — the memoized tree search must take the join pair, not
    * greedily grab the filter index it sees first. The golden plan pins
    * the winner by index name. */
  def idxRuleRivalry(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.li)
    ensureIndex(spark, sfDir, AccelIndexes.liJoin)
    ensureIndex(spark, sfDir, AccelIndexes.ordSnow)
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    li.filter(col("l_orderkey").between(100L, 5000L))
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"))
  }

  val idxRuleRivalrySql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price
       |FROM lineitem
       |JOIN orders ON l_orderkey = o_orderkey
       |WHERE l_orderkey BETWEEN 100 AND 5000""".stripMargin

  // --------------------------------------------- join ranker tie-break
  /** Join where TWO lineitem indexes are eligible for the same pair and
    * the ranker must choose: an 8-bucket and a 32-bucket index both
    * bucketed on l_orderkey, against a 32-bucket orders index. The
    * equal-bucket-count (32, 32) pair is the zero-shuffle plan and must
    * win over (8, 32), which would re-shuffle one side — the golden plan
    * pins the no-exchange join. */
  def idxJoinRankTie(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liJoin)
    ensureIndex(spark, sfDir, AccelIndexes.ordJoin)
    ensureRank8Decoy(spark, sfDir)
    val li = Tables.load(spark, sfDir, "lineitem")
    val ord = Tables.load(spark, sfDir, "orders")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("o_totalprice")).as("sum_total"))
  }

  val idxJoinRankTieSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price,
       | ${sqlMoneySum("o_totalprice")} AS sum_total
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey""".stripMargin

  // ---------------------------------------------- one-sided join
  /** Join where ONLY the fact side has a covering index (bucketed on the
    * join key): the reference's pair rule would bail; the
    * [[graft.index.rules.JoinOneSideIndexRule]] swaps the lineitem side
    * for its bucketed index scan and only the supplier side shuffles.
    * The golden plan (auto-broadcast off) pins the single-exchange
    * shape; the oracle pins the results. */
  def idxJoinOneSided(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liSupp)
    val li = Tables.load(spark, sfDir, "lineitem")
    val sup = Tables.load(spark, sfDir, "supplier")
    li.join(sup, li("l_suppkey") === sup("s_suppkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("l_extendedprice")).as("sum_price"),
        moneySum(col("s_acctbal")).as("sum_bal"))
  }

  val idxJoinOneSidedSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("l_extendedprice")} AS sum_price,
       | ${sqlMoneySum("s_acctbal")} AS sum_bal
       |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey""".stripMargin

  // ------------------------------- aggregate-alias coherence (finding #13)
  /** The qds65 face of ROUNDLOG finding #13, reconstructed as a pinned
    * positive: a per-(order, part) basket aggregate whose grouping keys
    * are aggregate-born ALIASES (`l_partkey AS bp_part`), consumed by a
    * part-dim join on the renamed key. Lineitem has eligible covers
    * under BOTH bucket keys (orderkey: liQty/liChan; partkey:
    * liInv/liPartChan) — alias-blind voting left the choice to the
    * canonical cols-string tie-break (orderkey) and the dim join
    * re-shuffled the full (order, part)-grain aggregate output; with
    * the alias-aware chooser translation in
    * [[graft.index.rules.AggIndexRule]], the join's coherence vote
    * ("bp_part" pairs with part's bucketed p_partkey) picks the PARTKEY
    * buckets (narrowest qualifying cover: liInv) and the dim join rides
    * them — the only exchanges left are the tiny brand-grain rollup and
    * the output sort. At 100 TB the saved exchange is the full
    * basket-grain stream. */
  def idxAggAliasCoherence(spark: SparkSession, sfDir: String): DataFrame = {
    ensureIndex(spark, sfDir, AccelIndexes.liQty)
    ensureIndex(spark, sfDir, AccelIndexes.liChan)
    ensureIndex(spark, sfDir, AccelIndexes.liInv)
    ensureIndex(spark, sfDir, AccelIndexes.liPartChan)
    ensureIndex(spark, sfDir, AccelIndexes.partAttr)
    val li = Tables.load(spark, sfDir, "lineitem")
    val part = Tables.load(spark, sfDir, "part")
    val bp = li
      .groupBy(col("l_orderkey").as("bp_ord"), col("l_partkey").as("bp_part"))
      .agg(moneySum(col("l_quantity")).as("bp_qty"))
    bp.join(part, col("bp_part") === col("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).cast(LongType).as("n_baskets"),
        moneySum(col("bp_qty")).as("sum_qty"))
      .orderBy(col("p_brand"))
  }

  val idxAggAliasCoherenceSql: String =
    s"""SELECT p_brand, CAST(COUNT(*) AS BIGINT) AS n_baskets,
       | ${sqlMoneySum("bp_qty")} AS sum_qty
       |FROM (
       |  SELECT l_orderkey AS bp_ord, l_partkey AS bp_part,
       |    ${sqlMoneySum("l_quantity")} AS bp_qty
       |  FROM lineitem GROUP BY 1, 2) bp
       |JOIN part ON bp_part = p_partkey
       |GROUP BY p_brand ORDER BY p_brand""".stripMargin

  // ------------------------------------------------ delta source
  /** Covering-index filter over a DELTA table (built jarless from the
    * log replay — [[graft.index.sources.DeltaLog]]): the fixture table
    * is the supplier table committed in TWO Delta versions (create +
    * append), so the oracle match proves multi-commit replay, the
    * version-signature provider, and the rewrite all compose. The
    * oracle sees only the plain supplier parquet. */
  def idxDeltaFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_$h"
    synchronized {
      val tableCreated = !graft.index.sources.DeltaLog.isDeltaTable(spark, root)
      if (tableCreated) {
        val supplier = Tables.load(spark, sfDir, "supplier")
        DeltaTable.create(supplier.filter(col("s_suppkey") % 2 === 0), root)
        DeltaTable.append(supplier.filter(col("s_suppkey") % 2 === 1), root)
      }
      ensureSystemPath(spark, sfDir)
      val mgr = new IndexManager(spark)
      val active = graft.index.rules.IndexCatalog.activeIndexes(spark)
        .map(_.name).toSet
      if (tableCreated && active.contains("accel_ci_delta")) {
        // the fixture table was wiped and re-created: a surviving index
        // points at dead files and would (correctly) never apply — rebuild
        mgr.delete("accel_ci_delta")
        mgr.vacuum("accel_ci_delta")
      }
      if (tableCreated || !active.contains("accel_ci_delta")) {
        mgr.create(DeltaTable.read(spark, root), CoveringIndexConfig(
          "accel_ci_delta", Seq("s_nationkey"), Seq("s_acctbal")))
      }
    }
    DeltaTable.read(spark, root)
      .filter(col("s_nationkey").between(5L, 15L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("s_acctbal")).as("sum_bal"))
  }

  val idxDeltaFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("s_acctbal")} AS sum_bal
       |FROM supplier WHERE s_nationkey BETWEEN 5 AND 15""".stripMargin

  /** Delta DELETION-VECTOR merge-on-read: the fixture table takes a
    * row-level DELETE (`DeltaTable.deleteWhere` — DV file + re-added
    * `add` actions, protocol (3,7)+deletionVectors), so a matching
    * aggregate proves the DV decode and the in-scan
    * (`_metadata.file_path`, `row_index`) filter drop exactly the
    * deleted rows. The oracle
    * sees only supplier parquet and re-applies the delete predicate. */
  def idxDeltaDvFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_dv_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val supplier = Tables.load(spark, sfDir, "supplier")
        DeltaTable.create(supplier, root)
        DeltaTable.deleteWhere(spark, root, col("s_suppkey") % 7 === 3)
      }
    }
    DeltaTable.read(spark, root)
      .filter(col("s_nationkey").between(5L, 15L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("s_acctbal")).as("sum_bal"))
  }

  val idxDeltaDvFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("s_acctbal")} AS sum_bal
       |FROM supplier
       |WHERE s_nationkey BETWEEN 5 AND 15 AND NOT (s_suppkey % 7 = 3)""".stripMargin

  /** Delta CHANGE DATA FEED: the fixture table is created CDF-enabled
    * (v0 = half the customers, v1 = append of the other half, v2 = a
    * row-level `deleteWhere` that records its victims as `_change_data/`
    * cdc files), and the query aggregates `DeltaTable.changes(0..)` by
    * change type. A match proves the cdc writer, the per-commit sourcing
    * rules (derived inserts for cdc-less appends, cdc-exclusive serving
    * for the delete commit), and the version/timestamp stamping compose
    * into exactly the feed a CDF subscriber would replay. The oracle
    * sees only customer parquet: every insert = every customer row,
    * every delete = the predicate's rows. */
  def idxDeltaCdfChanges(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_cdf_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root,
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        DeltaTable.append(customer.filter(col("c_custkey") % 2 === 1), root)
        DeltaTable.deleteWhere(spark, root, col("c_nationkey") < 5)
      }
    }
    DeltaTable.changes(spark, root, 0L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("change_type"))
  }

  val idxDeltaCdfChangesSql: String =
    s"""SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_nationkey < 5
       |UNION ALL
       |SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |ORDER BY change_type""".stripMargin

  /** Log-level FILE SKIPPING over a Delta table: the table is written
    * range-partitioned on `o_orderkey` (8 files with disjoint ranges,
    * each add action carrying min/max/nullCount stats), so the narrow
    * key-range filter lists only the 1-2 files whose stats admit it —
    * the pruning a real Delta reader does from `add.stats`, exercised
    * end-to-end (DeltaStatsSkipSpec asserts the scanned-file count; this
    * oracle pins the answer). */
  def idxDeltaStatsFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_stats_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val orders = Tables.load(spark, sfDir, "orders")
          .repartitionByRange(8, col("o_orderkey"))
        DeltaTable.create(orders, root)
      }
    }
    DeltaTable.read(spark, root)
      .filter(col("o_orderkey").between(100L, 2000L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
  }

  val idxDeltaStatsFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderkey BETWEEN 100 AND 2000""".stripMargin

  /** Iceberg INCREMENTAL APPEND scan: the fixture commits the customer
    * table in two append snapshots (evens, then odds) and the query
    * aggregates `IcebergTable.incrementalAppends(0..)` per snapshot. A
    * match proves the parent-snapshot-id lineage walk, the per-snapshot
    * manifest diff, and the snapshot stamping reconstruct exactly the
    * append history. The oracle sees only customer parquet. */
  def idxIcebergIncAppends(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_ice_inc_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        IcebergTable.append(customer.filter(col("c_custkey") % 2 === 1), root)
      }
    }
    IcebergTable.incrementalAppends(spark, root, 0L)
      .groupBy(col("_commit_snapshot_id").as("snap_id"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("snap_id"))
  }

  val idxIcebergIncAppendsSql: String =
    s"""SELECT CAST(1 AS BIGINT) AS snap_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_custkey % 2 = 0
       |UNION ALL
       |SELECT CAST(2 AS BIGINT) AS snap_id, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_custkey % 2 = 1
       |ORDER BY snap_id""".stripMargin

  /** STREAM THE TABLE: the `graft-delta` Structured Streaming source
    * drains a two-commit Delta fixture through a real streaming
    * aggregation (memory sink, AvailableNow) — a matching aggregate
    * proves the v1 source's offset arithmetic, per-commit file
    * discovery, and streaming-frame construction serve exactly the
    * table's rows. The oracle sees only customer parquet. */
  def streamDeltaSource(spark: SparkSession, sfDir: String): DataFrame =
    streamSourceAgg(spark, sfDir, "graft-delta", isIceberg = false)

  /** Iceberg sibling: the `graft-iceberg` source over two snapshots. */
  def streamIcebergSource(spark: SparkSession, sfDir: String): DataFrame =
    streamSourceAgg(spark, sfDir, "graft-iceberg", isIceberg = true)

  private def streamSourceAgg(spark: SparkSession, sfDir: String,
      format: String, isIceberg: Boolean): DataFrame = {
    import graft.index.sources.{DeltaTable, IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val tag = if (isIceberg) "ice" else "delta"
    val root = sys.props("java.io.tmpdir").stripSuffix("/") +
      s"/graft_stream_src_${tag}_$h"
    synchronized {
      val exists = if (isIceberg) IcebergMeta.isIcebergTable(spark, root)
        else graft.index.sources.DeltaLog.isDeltaTable(spark, root)
      if (!exists) {
        val customer = Tables.load(spark, sfDir, "customer")
        val even = customer.filter(col("c_custkey") % 2 === 0)
        val odd = customer.filter(col("c_custkey") % 2 === 1)
        if (isIceberg) { IcebergTable.create(even, root); IcebergTable.append(odd, root) }
        else { DeltaTable.create(even, root); DeltaTable.append(odd, root) }
      }
    }
    val name = "stream_src_" + java.util.UUID.randomUUID().toString.replace("-", "")
    // fresh-checkpoint scratch on the fastest local volume (tmpfs when
    // present) — see StreamingQueries.scratchCheckpointDir
    val ckpt = graft.streaming.StreamingQueries.scratchCheckpointDir()
    try {
      val q = spark.readStream.format(format).load(root)
        .agg(count(lit(1)).cast(LongType).as("n_rows"),
          moneySum(col("c_acctbal")).as("sum_bal"))
        .writeStream.format("memory").queryName(name)
        .option("checkpointLocation", ckpt.toString)
        .outputMode("complete")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally graft.streaming.StreamingQueries.deleteRecursively(ckpt)
    val rows = spark.table(name).collect()
    val schema = spark.table(name).schema
    spark.catalog.dropTempView(name)
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq, 1), schema)
  }

  val streamSourceAggSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer""".stripMargin

  /** Iceberg CHANGELOG scan: create + append + positional deleteWhere,
    * then aggregate `incrementalChanges(0..)` by change type — a match
    * proves the lineage walk, the per-snapshot manifest diff, and the
    * inverse-MOR victim recovery compose into exactly the feed a CDC
    * subscriber would replay. Oracle sees only customer parquet. */
  def idxIcebergChangelog(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_ice_chg_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        IcebergTable.append(customer.filter(col("c_custkey") % 2 === 1), root)
        IcebergTable.deleteWhere(spark, root, col("c_nationkey") < 5)
      }
    }
    IcebergTable.incrementalChanges(spark, root, 0L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("change_type"))
  }

  val idxIcebergChangelogSql: String =
    s"""SELECT 'delete' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_nationkey < 5
       |UNION ALL
       |SELECT 'insert' AS change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |ORDER BY change_type""".stripMargin

  // ------------------------------------------------ iceberg source
  /** Covering-index filter over an ICEBERG table (metadata.json + avro
    * manifests replayed jarless — [[graft.index.sources.IcebergMeta]]):
    * the fixture is the customer table committed in TWO snapshots, so a
    * match proves the manifest walk, the snapshot-signature provider,
    * and the rewrite compose. The oracle sees only customer parquet. */
  def idxIcebergFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val loc = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_iceberg_$h"
    synchronized {
      val tableCreated = !IcebergMeta.isIcebergTable(spark, loc)
      if (tableCreated) {
        val cust = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(cust.filter(col("c_custkey") % 2 === 0), loc)
        IcebergTable.append(cust.filter(col("c_custkey") % 2 === 1), loc)
      }
      ensureSystemPath(spark, sfDir)
      val mgr = new IndexManager(spark)
      val active = graft.index.rules.IndexCatalog.activeIndexes(spark)
        .map(_.name).toSet
      if (tableCreated && active.contains("accel_ci_iceberg")) {
        // wiped-and-recreated fixture: rebuild the index (see delta twin)
        mgr.delete("accel_ci_iceberg")
        mgr.vacuum("accel_ci_iceberg")
      }
      if (tableCreated || !active.contains("accel_ci_iceberg")) {
        mgr.create(IcebergTable.read(spark, loc), CoveringIndexConfig(
          "accel_ci_iceberg", Seq("c_nationkey"), Seq("c_acctbal")))
      }
    }
    IcebergTable.read(spark, loc)
      .filter(col("c_nationkey").between(5L, 15L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
  }

  val idxIcebergFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_nationkey BETWEEN 5 AND 15""".stripMargin

  /** IDENTITY-PARTITIONED Iceberg: the fixture is created with a real
    * partition spec (`partitionColumns = c_mktsegment`), data files land
    * hive-laid-out with the partition column dropped from the files, and
    * the filtered aggregate groups ACROSS partition and file columns —
    * a hash match proves path-reconstructed partition values line up
    * row-for-row with the file columns, and the scan only opens the
    * matching partitions' files (asserted in IcebergPartitionedSpec). */
  def idxIcebergPartFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val loc = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_iceberg_part_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, loc)) {
        val cust = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(cust.filter(col("c_custkey") % 2 === 0), loc,
          partitionColumns = Seq("c_mktsegment"))
        IcebergTable.append(cust.filter(col("c_custkey") % 2 === 1), loc)
      }
    }
    IcebergTable.read(spark, loc)
      .filter(col("c_mktsegment").isin("BUILDING", "MACHINERY") &&
        col("c_nationkey") < 20)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  val idxIcebergPartFilterSql: String =
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE c_mktsegment IN ('BUILDING', 'MACHINERY') AND c_nationkey < 20
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** HIDDEN-PARTITIONED Iceberg (months(o_orderdate) + bucket(8,
    * o_custkey)): the fixture's layout is the DERIVED transform values
    * — the spec's month ordinals and bucket hashes — while the source
    * columns stay in the data files. The query filters on the SOURCE
    * columns only (a date range that prunes months via the transform's
    * monotonicity, plus custkey equalities that each open one bucket);
    * a hash match proves the transform write/read round-trip loses and
    * duplicates nothing across the pruning boundaries. Pruning itself
    * (files actually skipped) is pinned in IcebergHiddenPartitionSpec.
    * The oracle sees only orders parquet. */
  def idxIcebergHiddenFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val loc = icebergHiddenFixture(spark, sfDir)
    import graft.index.sources.IcebergTable
    IcebergTable.read(spark, loc)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp_ntz") &&
        col("o_orderdate") < lit("1997-01-01").cast("timestamp_ntz"))
      .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("month"))
  }

  val idxIcebergHiddenFilterSql: String =
    s"""SELECT strftime(o_orderdate, '%Y-%m') AS month,
       | CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("o_totalprice")} AS sum_price
       |FROM orders
       |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Point lookups on the bucket(8, o_custkey) leg of the same fixture:
    * each key's rows live in exactly one bucket directory, and min/max
    * stats CANNOT prune a bucket layout (the hash scrambles ranges) —
    * the partition-tuple translation is the only pruning evidence. */
  def idxIcebergBucketPoint(spark: SparkSession, sfDir: String): DataFrame = {
    val loc = icebergHiddenFixture(spark, sfDir)
    import graft.index.sources.IcebergTable
    IcebergTable.read(spark, loc)
      .filter(col("o_custkey").isin(7L, 13L, 37L, 43L))
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("o_custkey"))
  }

  val idxIcebergBucketPointSql: String =
    s"""SELECT o_custkey, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_custkey IN (7, 13, 37, 43)
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** Shared fixture: orders as an Iceberg table hidden-partitioned by
    * years(o_orderdate) and bucket(4, o_custkey), built in two writes
    * so appended files conform to the fixed spec. Year-not-month
    * granularity keeps the partition count proportionate to the data
    * (the sizing judgment a real table needs too — transform choice IS
    * the small-files knob under hash-distributed writes). */
  private def icebergHiddenFixture(spark: SparkSession, sfDir: String): String = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val loc = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_iceberg_hidden_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, loc)) {
        val ord = Tables.load(spark, sfDir, "orders")
        IcebergTable.create(ord.filter(col("o_orderkey") % 2 === 0), loc,
          partitionColumns =
            Seq("years(o_orderdate)", "bucket(4, o_custkey)"))
        IcebergTable.append(ord.filter(col("o_orderkey") % 2 === 1), loc)
      }
    }
    loc
  }

  /** Iceberg v2 MERGE-ON-READ: the fixture table takes a positional
    * row-level DELETE (`deleteWhere`), so a matching aggregate proves
    * the delete manifest walk and the in-scan (file, position) filter
    * resurrect nothing and drop nothing. The oracle sees only customer
    * parquet and re-applies the delete predicate. */
  def idxIcebergV2Filter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val loc = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_iceberg_v2_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, loc)) {
        val cust = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(cust, loc)
        IcebergTable.deleteWhere(spark, loc, col("c_custkey") % 7 === 3)
      }
    }
    IcebergTable.read(spark, loc)
      .filter(col("c_nationkey").between(5L, 15L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
  }

  val idxIcebergV2FilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE c_nationkey BETWEEN 5 AND 15 AND NOT (c_custkey % 7 = 3)""".stripMargin

  /** Iceberg v2 EQUALITY deletes composing with positional ones: the
    * fixture takes a positional DELETE (`deleteWhere`) and then an
    * equality DELETE (`deleteWhereEquality` on `c_custkey`, content=2 +
    * equality_ids + sequence numbers), so a matching aggregate proves
    * the position filter and the sequence-gated key anti-join stack. The
    * oracle re-applies both predicates on plain customer parquet. */
  def idxIcebergEqFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val loc = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_iceberg_eq_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, loc)) {
        val cust = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(cust, loc)
        IcebergTable.deleteWhere(spark, loc, col("c_custkey") % 7 === 3)
        IcebergTable.deleteWhereEquality(spark, loc,
          cust.filter(col("c_custkey") % 5 === 1).select(col("c_custkey")))
      }
    }
    IcebergTable.read(spark, loc)
      .filter(col("c_nationkey").between(5L, 15L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
  }

  val idxIcebergEqFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE c_nationkey BETWEEN 5 AND 15
       |  AND NOT (c_custkey % 7 = 3) AND NOT (c_custkey % 5 = 1)""".stripMargin

  /** COLUMN MAPPING end-to-end: the Delta table gets a column RENAMED
    * (metadata-only commit — mode `name`, physicalName kept, zero data
    * rewrites), then a row-level DV delete against the NEW name, and the
    * query aggregates under the new name. The oracle sees only the base
    * parquet under the ORIGINAL name — matching results prove the
    * physical→logical resolution, the mapped-table DV filter, and the
    * renamed filter's pushdown all agree with plain-column semantics. */
  def idxDeltaCmFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_cm_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        DeltaTable.create(Tables.load(spark, sfDir, "customer"), root)
        DeltaTable.renameColumn(spark, root, "c_acctbal", "balance")
        DeltaTable.deleteWhere(spark, root, col("c_custkey") % 11 === 4)
      }
    }
    DeltaTable.read(spark, root)
      .filter(col("c_mktsegment") === "BUILDING" && col("balance") > 0)
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("balance")).as("sum_bal"))
  }

  val idxDeltaCmFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE c_mktsegment = 'BUILDING' AND c_acctbal > 0
       |  AND NOT (c_custkey % 11 = 4)""".stripMargin

  /** Manifest-bounds FILE SKIPPING over an ICEBERG table: the mirror of
    * `idx_delta_stats_filter` — 8 range-disjoint files whose manifest
    * entries carry single-value-serialized lower/upper bounds, a narrow
    * key-range filter that lists only the admissible files
    * (IcebergStatsSkipSpec asserts the scanned-file count; this oracle
    * pins the answer). */
  def idxIcebergStatsFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_ice_stats_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, root)) {
        val orders = Tables.load(spark, sfDir, "orders")
          .repartitionByRange(8, col("o_orderkey"))
        IcebergTable.create(orders, root)
      }
    }
    IcebergTable.read(spark, root)
      .filter(col("o_orderkey").between(100L, 2000L))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
  }

  val idxIcebergStatsFilterSql: String = idxDeltaStatsFilterSql

  /** Iceberg SCHEMA EVOLUTION end-to-end: rename a column (metadata-only
    * — field id kept, files resolved by parquet field id), equality-
    * delete keys under the ORIGINAL name beforehand, then aggregate
    * under the NEW name. The oracle sees only the base parquet under the
    * original name — matching results prove id-based resolution, the
    * pre-rename delete's continued effect, and renamed-filter pushdown. */
  def idxIcebergEvoFilter(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_ice_evo_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(customer, root)
        IcebergTable.deleteWhereEquality(spark, root,
          customer.filter(col("c_custkey") % 9 === 2).select("c_custkey"))
        IcebergTable.renameColumn(spark, root, "c_acctbal", "balance")
      }
    }
    IcebergTable.read(spark, root)
      .filter(col("c_mktsegment") === "MACHINERY" && col("balance") > 0)
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("balance")).as("sum_bal"))
  }

  val idxIcebergEvoFilterSql: String =
    s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer
       |WHERE c_mktsegment = 'MACHINERY' AND c_acctbal > 0
       |  AND NOT (c_custkey % 9 = 2)""".stripMargin

  /** MERGE (CDC upsert) on the jarless Delta writer, end-to-end: the
    * fixture table holds the even customers, the source upserts every
    * third customer with a bumped balance (rows with `c_nationkey >= 20`
    * are delete markers), and the query aggregates the POST-MERGE table
    * per segment. A hash match proves the one-commit DV-delete + append
    * composition produced exactly the upsert semantics: matched rows
    * replaced, markers removed, unmatched rows inserted. The oracle sees
    * only raw customer parquet and replays the merge in SQL. */
  def idxDeltaMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_merge_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root,
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        val source = customer.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
        DeltaTable.merge(spark, root, source, Seq("c_custkey"),
          deleteCondition = Some(col("c_nationkey") >= 20))
      }
    }
    DeltaTable.read(spark, root)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  private val mergeOracleCte: String =
    """WITH merged AS (
      |  SELECT c_custkey, c_mktsegment,
      |    CASE WHEN c_custkey % 3 = 0 THEN c_acctbal + 1000
      |         ELSE c_acctbal END AS bal
      |  FROM customer
      |  WHERE (c_custkey % 2 = 0
      |         AND NOT (c_custkey % 3 = 0 AND c_nationkey >= 20))
      |     OR (c_custkey % 2 = 1 AND c_custkey % 3 = 0 AND c_nationkey < 20)
      |)""".stripMargin

  /** The SAME merge as [[idxDeltaMerge]], driven through the SQL
    * statement surface (`MERGE INTO graft_delta.\`path\` ...` via the
    * session extension's parser + resolution rule) instead of the API
    * verb — shares [[idxDeltaMergeSql]] as its oracle, so a hash match
    * proves the two entry points are the same code path. */
  def lakeSqlMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_sql_merge_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root,
          configuration = Map("delta.enableChangeDataFeed" -> "true"))
        customer.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
          .createOrReplaceTempView("lake_sql_merge_src")
        spark.sql(
          s"""MERGE INTO graft_delta.`$root` t USING lake_sql_merge_src s
             |ON t.c_custkey = s.c_custkey
             |WHEN MATCHED AND s.c_nationkey >= 20 THEN DELETE
             |WHEN MATCHED THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      }
    }
    DeltaTable.read(spark, root)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  val idxDeltaMergeSql: String =
    s"""$mergeOracleCte
       |SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("bal")} AS sum_bal
       |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin

  /** SQL TIME TRAVEL (`SELECT ... FROM graft_delta.\`p\` VERSION AS OF
    * 0`, resolved by [[graft.sql.LakeDmlResolution]] onto the same
    * versioned log replay as `DeltaTable.read(versionAsOf)`): the
    * fixture commits two versions, the query reads v0 THROUGH SQL, and
    * the oracle pins v0's contents — an append leaking into the
    * historic read, or the resolution falling back to head, breaks the
    * hash. LakeSqlSpec additionally pins SQL ≡ API row-identical. */
  def lakeSqlTimetravel(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_sql_tt_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        DeltaTable.append(customer.filter(col("c_custkey") % 2 === 1), root)
      }
    }
    spark.sql(
      s"""SELECT c_mktsegment AS segment,
         | CAST(COUNT(*) AS BIGINT) AS n_rows,
         | ${"CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE)"} AS sum_bal
         |FROM graft_delta.`$root` VERSION AS OF 0
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
  }

  val lakeSqlTimetravelSql: String =
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal
       |FROM customer WHERE c_custkey % 2 = 0
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** SCHEMA EVOLUTION through SQL (`ALTER TABLE … ADD COLUMN` via the
    * delegating parser onto [[graft.index.sources.LakeTable.addColumn]]):
    * v0 commits WITHOUT the column, the DDL appends it metadata-only,
    * a second append writes it — so the aggregated read mixes
    * pre-evolution files (column absent → null) with post-evolution
    * files in one scan. The oracle reconstructs the same mix; a reader
    * that drops old files, defaults the column wrong, or fails to
    * surface it post-DDL breaks the hash. */
  def lakeSqlAddColumn(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_sql_addcol_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_nationkey"),
            col("c_mktsegment"), col("c_acctbal"))
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        spark.sql(s"ALTER TABLE graft_delta.`$root` ADD COLUMN bonus DOUBLE")
        DeltaTable.append(customer.filter(col("c_custkey") % 2 === 1)
          .withColumn("bonus", col("c_nationkey").cast("double")), root)
      }
    }
    spark.sql(
      s"""SELECT c_mktsegment AS segment,
         | CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(CAST(c_acctbal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal,
         | CAST(SUM(CAST(COALESCE(bonus, 0.0) AS DECIMAL(28,6))) AS DOUBLE)
         |   AS sum_bonus
         |FROM graft_delta.`$root`
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
  }

  val lakeSqlAddColumnSql: String =
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("c_acctbal")} AS sum_bal,
       | CAST(SUM(CAST(CASE WHEN c_custkey % 2 = 1
       |   THEN CAST(c_nationkey AS DOUBLE) ELSE 0.0 END
       |   AS DECIMAL(28,6))) AS DOUBLE) AS sum_bonus
       |FROM customer
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** NESTED-target schema evolution through SQL: one `ADD COLUMNS`
    * statement appends a struct field (`info.bonus`) AND a top-level
    * column (`grade`) in a SINGLE metadata commit; the read then mixes
    * pre-evolution files (nested field absent in the parquet → null)
    * with post-evolution files in one scan. The oracle reconstructs the
    * same mix from the flat table — a reader that defaults the nested
    * field wrong, loses it under the struct, or splits the DDL into two
    * commits with divergent schemas breaks the hash. */
  def lakeSqlAddColumnNested(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") +
      s"/graft_lake_sql_addcoln_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
          .select(col("c_custkey"), col("c_mktsegment"),
            struct(col("c_nationkey").as("nk")).as("info"))
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        spark.sql(s"ALTER TABLE graft_delta.`$root` ADD COLUMNS " +
          "(info.bonus DOUBLE, grade STRING)")
        DeltaTable.append(customer.filter(col("c_custkey") % 2 === 1)
          .withColumn("info", struct(col("info.nk").as("nk"),
            (col("c_custkey") % 7).cast("double").as("bonus")))
          .withColumn("grade", substring(col("c_mktsegment"), 1, 1)), root)
      }
    }
    spark.sql(
      s"""SELECT c_mktsegment AS segment,
         | CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(CAST(COALESCE(info.bonus, 0.0) AS DECIMAL(28,6)))
         |   AS DOUBLE) AS sum_bonus,
         | CAST(COUNT(grade) AS BIGINT) AS n_graded,
         | CAST(SUM(info.nk) AS BIGINT) AS sum_nk
         |FROM graft_delta.`$root`
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
  }

  val lakeSqlAddColumnNestedSql: String =
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | CAST(SUM(CAST(CASE WHEN c_custkey % 2 = 1
       |   THEN CAST(c_custkey % 7 AS DOUBLE) ELSE 0.0 END
       |   AS DECIMAL(28,6))) AS DOUBLE) AS sum_bonus,
       | CAST(SUM(CASE WHEN c_custkey % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT)
       |   AS n_graded,
       | CAST(SUM(c_nationkey) AS BIGINT) AS sum_nk
       |FROM customer
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** TYPE-WIDENING through SQL (`ALTER TABLE … ALTER COLUMN … TYPE` →
    * [[graft.index.sources.DeltaTable.widenColumnTypes]]): v0 commits
    * NARROW (int key, float balance), the DDL widens both columns
    * metadata-only, a second append writes at the WIDE types — so the
    * aggregated read mixes narrow physical files (upcast at scan) with
    * wide files in one plan. The oracle reconstructs the same mix; a
    * reader that fails the upcast, loses float precision differently,
    * or refuses the widened table breaks the hash. */
  def lakeSqlWiden(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") +
      s"/graft_lake_sql_widen_$h"
    synchronized {
      if (!graft.index.sources.DeltaLog.isDeltaTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        // bal is floored to whole units: integers are EXACT in float32,
        // so the hash tests the mixed-width plan, not engines' float
        // rounding modes
        DeltaTable.create(customer.filter(col("c_custkey") % 2 === 0)
          .select(col("c_custkey").cast("int").as("c_custkey"),
            col("c_mktsegment"),
            floor(col("c_acctbal")).cast("float").as("bal")), root)
        spark.sql(s"ALTER TABLE graft_delta.`$root` " +
          "ALTER COLUMN c_custkey TYPE BIGINT")
        spark.sql(s"ALTER TABLE graft_delta.`$root` " +
          "ALTER COLUMN bal TYPE DOUBLE")
        DeltaTable.append(customer.filter(col("c_custkey") % 2 === 1)
          .select(col("c_custkey"), col("c_mktsegment"),
            floor(col("c_acctbal")).cast("double").as("bal")), root)
      }
    }
    spark.sql(
      s"""SELECT c_mktsegment AS segment,
         | CAST(COUNT(*) AS BIGINT) AS n_rows,
         | CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
         | CAST(SUM(CAST(bal AS DECIMAL(28,6))) AS DOUBLE) AS sum_bal
         |FROM graft_delta.`$root`
         |GROUP BY c_mktsegment ORDER BY segment""".stripMargin)
  }

  val lakeSqlWidenSql: String =
    s"""SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | CAST(SUM(c_custkey) AS BIGINT) AS key_sum,
       | CAST(SUM(CAST(FLOOR(c_acctbal) AS DECIMAL(28,6))) AS DOUBLE)
       |   AS sum_bal
       |FROM customer
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** The CDF of the Delta merge commit, aggregated by change type — a
    * hash match proves the cdc writer recorded exactly the merge's
    * row-level effect (delete / update pre+post / insert classification
    * against the live pre-image). */
  def idxDeltaMergeCdf(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.DeltaTable
    idxDeltaMerge(spark, sfDir).count() // ensure the fixture exists
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_merge_$h"
    DeltaTable.changes(spark, root, 1L)
      .groupBy(col("_change_type").as("change_type"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("change_type"))
  }

  val idxDeltaMergeCdfSql: String =
    s"""WITH legs AS (
       |  SELECT 'delete' AS change_type, c_acctbal AS bal FROM customer
       |   WHERE c_custkey % 2 = 0 AND c_custkey % 3 = 0 AND c_nationkey >= 20
       |  UNION ALL
       |  SELECT 'update_preimage', c_acctbal FROM customer
       |   WHERE c_custkey % 2 = 0 AND c_custkey % 3 = 0 AND c_nationkey < 20
       |  UNION ALL
       |  SELECT 'update_postimage', c_acctbal + 1000 FROM customer
       |   WHERE c_custkey % 2 = 0 AND c_custkey % 3 = 0 AND c_nationkey < 20
       |  UNION ALL
       |  SELECT 'insert', c_acctbal + 1000 FROM customer
       |   WHERE c_custkey % 2 = 1 AND c_custkey % 3 = 0 AND c_nationkey < 20
       |)
       |SELECT change_type, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("bal")} AS sum_bal
       |FROM legs GROUP BY 1 ORDER BY 1""".stripMargin

  /** Row-level UPDATE on the jarless Delta writer: the fixture takes
    * one UPDATE (matched rows DV-deleted + rewritten versions landed in
    * the same commit), and the post-update aggregate must hash-match a
    * DuckDB replay of the SET expression over raw parquet — proof the
    * rewrite replaced exactly the matched rows and resurrected
    * nothing. */
  def lakeUpdate(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{DeltaLog, DeltaTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_update_$h"
    synchronized {
      if (!DeltaLog.isDeltaTable(spark, root)) {
        DeltaTable.create(Tables.load(spark, sfDir, "customer"), root)
        DeltaTable.update(spark, root,
          col("c_mktsegment") === "BUILDING" && col("c_nationkey") < 13,
          Map("c_acctbal" -> (col("c_acctbal") + 250)))
      }
    }
    DeltaTable.read(spark, root)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  val lakeUpdateSql: String =
    s"""WITH updated AS (
       |  SELECT c_mktsegment,
       |    CASE WHEN c_mktsegment = 'BUILDING' AND c_nationkey < 13
       |         THEN c_acctbal + 250 ELSE c_acctbal END AS bal
       |  FROM customer
       |)
       |SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("bal")} AS sum_bal
       |FROM updated GROUP BY 1 ORDER BY 1""".stripMargin

  /** ZERO-COPY CLONE, oracle-gated: the fixture clones a Delta table
    * that carries DV delete state, then UPDATEs the CLONE — the final
    * aggregate must hash-match a DuckDB replay of delete+update over
    * raw parquet, proving the clone served the source's exact MOR
    * state through absolute-path references and then diverged
    * independently (no bytes were copied; the update's DVs and
    * rewrites landed under the clone root). */
  def lakeClone(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{DeltaLog, DeltaTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val tmp = sys.props("java.io.tmpdir").stripSuffix("/")
    val src = tmp + s"/graft_lake_clone_src_$h"
    val dst = tmp + s"/graft_lake_clone_dst_$h/t"
    synchronized {
      val srcCreated = !DeltaLog.isDeltaTable(spark, src)
      if (srcCreated) {
        DeltaTable.create(Tables.load(spark, sfDir, "customer"), src)
        DeltaTable.deleteWhere(spark, src, col("c_acctbal") < 0)
      }
      // a recreated source invalidates a cached clone (its absolute
      // references point at the wiped generation's files)
      if (srcCreated || !DeltaLog.isDeltaTable(spark, dst)) {
        val fs = new org.apache.hadoop.fs.Path(dst)
          .getFileSystem(spark.sessionState.newHadoopConf())
        fs.delete(new org.apache.hadoop.fs.Path(dst), true)
        DeltaTable.clone(spark, src, dst)
        DeltaTable.update(spark, dst, col("c_nationkey") === 7,
          Map("c_acctbal" -> (col("c_acctbal") + 500)))
      }
    }
    DeltaTable.read(spark, dst)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  val lakeCloneSql: String =
    s"""WITH cloned AS (
       |  SELECT c_mktsegment,
       |    CASE WHEN c_nationkey = 7 THEN c_acctbal + 500
       |         ELSE c_acctbal END AS bal
       |  FROM customer WHERE c_acctbal >= 0
       |)
       |SELECT c_mktsegment AS segment, CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("bal")} AS sum_bal
       |FROM cloned GROUP BY 1 ORDER BY 1""".stripMargin

  /** CONVERT TO DELTA, oracle-gated: a plain parquet copy of orders is
    * converted IN PLACE (no data moves; footer stats collected), then
    * takes a row-level delete — the aggregate must hash-match DuckDB
    * replaying the same delete over the raw table, proving conversion
    * registered every file exactly once and DML over converted files
    * is sound. */
  def lakeConvert(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{DeltaLog, DeltaTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val dir = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_convert_$h"
    synchronized {
      if (!DeltaLog.isDeltaTable(spark, dir)) {
        Tables.load(spark, sfDir, "orders").repartition(4)
          .write.mode("overwrite").parquet(dir)
        DeltaTable.convert(spark, dir)
        DeltaTable.deleteWhere(spark, dir, col("o_orderstatus") === "F")
      }
    }
    DeltaTable.read(spark, dir)
      .groupBy(col("o_orderpriority").as("priority"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("o_totalprice")).as("sum_price"))
      .orderBy(col("priority"))
  }

  val lakeConvertSql: String =
    s"""SELECT o_orderpriority AS priority,
       | CAST(COUNT(*) AS BIGINT) AS n_rows,
       | ${sqlMoneySum("o_totalprice")} AS sum_price
       |FROM orders WHERE o_orderstatus <> 'F'
       |GROUP BY 1 ORDER BY 1""".stripMargin

  /** STREAMING CDC APPLY, end to end: table A is the Delta merge
    * fixture (create + one MERGE, CDF recording every row-level
    * change); the pipeline STREAMS A's change feed
    * (`readChangeFeed=true` from version 0) and MERGES it into a fresh
    * table B (`mode=merge` sink — preimages dropped, last change per
    * key wins, deletes become markers), so B converges to A through
    * changes alone — the replication shape every CDC pipeline lands
    * on. The aggregate over B matches the SAME DuckDB oracle that pins
    * A: proof the feed's replay is exact. */
  def streamLakeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{DeltaLog, DeltaTable}
    idxDeltaMerge(spark, sfDir).count() // ensure the CDF-recorded fixture
    val h = Integer.toHexString(sfDir.hashCode)
    val src = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_delta_merge_$h"
    val dst = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_lake_upsert_$h"
    synchronized {
      if (!DeltaLog.isDeltaTable(spark, dst)) {
        // a crashed prior run may have left a checkpoint without the
        // table — its offsets would make this drain skip everything
        val ckptPath = new org.apache.hadoop.fs.Path(dst + "_ckpt")
        val fs = ckptPath.getFileSystem(spark.sessionState.newHadoopConf())
        if (fs.exists(ckptPath)) fs.delete(ckptPath, true)
        val q = spark.readStream.format("graft-delta")
          .option("readChangeFeed", "true").load(src)
          .writeStream.format("graft-delta")
          .option("mode", "merge").option("mergeKeys", "c_custkey")
          .option("path", dst)
          .option("checkpointLocation", dst + "_ckpt")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
    }
    DeltaTable.read(spark, dst)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  /** The same merge over the jarless Iceberg writer — one snapshot
    * carrying an equality-delete file plus the upsert data files; the
    * sequence rule yields identical upsert semantics to the Delta leg,
    * and the same SQL oracle pins it. */
  def idxIcebergMerge(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.index.sources.{IcebergMeta, IcebergTable}
    val h = Integer.toHexString(sfDir.hashCode)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + s"/graft_ice_merge_$h"
    synchronized {
      if (!IcebergMeta.isIcebergTable(spark, root)) {
        val customer = Tables.load(spark, sfDir, "customer")
        IcebergTable.create(customer.filter(col("c_custkey") % 2 === 0), root)
        val source = customer.filter(col("c_custkey") % 3 === 0)
          .withColumn("c_acctbal", col("c_acctbal") + 1000)
        IcebergTable.merge(spark, root, source, Seq("c_custkey"),
          deleteCondition = Some(col("c_nationkey") >= 20))
      }
    }
    IcebergTable.read(spark, root)
      .groupBy(col("c_mktsegment").as("segment"))
      .agg(count(lit(1)).cast(LongType).as("n_rows"),
        moneySum(col("c_acctbal")).as("sum_bal"))
      .orderBy(col("segment"))
  }

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "idx_delta_merge" -> (idxDeltaMerge _, idxDeltaMergeSql),
    "lake_sql_merge" -> (lakeSqlMerge _, idxDeltaMergeSql),
    "lake_sql_timetravel" -> (lakeSqlTimetravel _, lakeSqlTimetravelSql),
    "lake_sql_addcol" -> (lakeSqlAddColumn _, lakeSqlAddColumnSql),
    "lake_sql_addcol_nested" ->
      (lakeSqlAddColumnNested _, lakeSqlAddColumnNestedSql),
    "lake_sql_widen" -> (lakeSqlWiden _, lakeSqlWidenSql),
    "idx_sql_created" -> (idxSqlCreated _, idxSqlCreatedSql),
    "idx_sql_bloom" -> (idxSqlBloom _, idxSqlBloomSql),
    "idx_delta_merge_cdf" -> (idxDeltaMergeCdf _, idxDeltaMergeCdfSql),
    "idx_iceberg_merge" -> (idxIcebergMerge _, idxDeltaMergeSql),
    "stream_lake_upsert" -> (streamLakeUpsert _, idxDeltaMergeSql),
    "lake_update" -> (lakeUpdate _, lakeUpdateSql),
    "lake_clone" -> (lakeClone _, lakeCloneSql),
    "lake_convert" -> (lakeConvert _, lakeConvertSql),
    "idx_minhash_pairs" -> (idxMinHashPairs _, idxMinHashPairsSql),
    "idx_ivfpq_topk" -> (idxIvfPqTopK _, idxIvfPqTopKSql),
    "idx_delta_filter" -> (idxDeltaFilter _, idxDeltaFilterSql),
    "idx_delta_dv_filter" -> (idxDeltaDvFilter _, idxDeltaDvFilterSql),
    "idx_delta_stats_filter" -> (idxDeltaStatsFilter _, idxDeltaStatsFilterSql),
    "idx_delta_cm_filter" -> (idxDeltaCmFilter _, idxDeltaCmFilterSql),
    "idx_delta_cdf_changes" -> (idxDeltaCdfChanges _, idxDeltaCdfChangesSql),
    "stream_delta_source" -> (streamDeltaSource _, streamSourceAggSql),
    "stream_iceberg_source" -> (streamIcebergSource _, streamSourceAggSql),
    "idx_iceberg_filter" -> (idxIcebergFilter _, idxIcebergFilterSql),
    "idx_iceberg_part_filter" -> (idxIcebergPartFilter _, idxIcebergPartFilterSql),
    "idx_iceberg_hidden_filter" -> (idxIcebergHiddenFilter _, idxIcebergHiddenFilterSql),
    "idx_iceberg_bucket_point" -> (idxIcebergBucketPoint _, idxIcebergBucketPointSql),
    "idx_iceberg_v2_filter" -> (idxIcebergV2Filter _, idxIcebergV2FilterSql),
    "idx_iceberg_eq_filter" -> (idxIcebergEqFilter _, idxIcebergEqFilterSql),
    "idx_iceberg_stats_filter" -> (idxIcebergStatsFilter _, idxIcebergStatsFilterSql),
    "idx_iceberg_evo_filter" -> (idxIcebergEvoFilter _, idxIcebergEvoFilterSql),
    "idx_iceberg_inc_appends" -> (idxIcebergIncAppends _, idxIcebergIncAppendsSql),
    "idx_iceberg_changelog" -> (idxIcebergChangelog _, idxIcebergChangelogSql),
    "q_snowflake_2idx" -> (idxSnowflake2 _, idxSnowflake2Sql),
    "q_snowflake_3idx" -> (idxSnowflake3 _, idxSnowflake3Sql),
    "q_star_agg_idx" -> (idxStarAgg _, idxStarAggSql),
    "q_rule_rivalry" -> (idxRuleRivalry _, idxRuleRivalrySql),
    "q_join_rank_tie" -> (idxJoinRankTie _, idxJoinRankTieSql),
    "q_join_one_sided" -> (idxJoinOneSided _, idxJoinOneSidedSql),
    "q_agg_alias_coherence" -> (idxAggAliasCoherence _, idxAggAliasCoherenceSql),
    "idx_covering_filter" -> (idxCoveringFilter _, idxCoveringFilterSql),
    "idx_join" -> (idxJoin _, idxJoinSql),
    "idx_zorder_filter" -> (idxZOrderFilter _, idxZOrderFilterSql),
    "idx_dataskip_filter" -> (idxDataSkipFilter _, idxDataSkipFilterSql))
}
