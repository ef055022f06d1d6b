package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType, LongType}

import graft.Tables
import graft.queries.TextPrimitives._

/**
 * Training-data pipeline operators, tranche 3 (beyond the reference —
 * SURVEY.md §2.6b): corpus quality signals, benchmark decontamination,
 * token-budget shard packing, and an as-of join.
 *
 * Scale design notes per operator are on the methods; every metric/oracle
 * pair follows the engine-parity rules (BIGINT casts, IEEE-identical
 * double division, no raw timestamps in hashed output).
 */
object Pipeline {

  // -------------------------------------------------- text_quality
  /** Integer quality metrics per doc — `(doc_id, n_tokens, n_distinct,
    * d_bigram, n_bigram, top_cnt)`, shared by text_quality and the
    * composite curation pipeline. These are the Gopher-style repetition
    * signals a corpus pipeline gates on before training.
    *
    * Scale shape: one map over the scan. The counts and distinct sizes
    * are array expressions and the top-token count is the native
    * [[graft.functions.TopTokenCount]] hash count, so no metric needs a
    * shuffle or a join back onto the doc row, and every input row gets
    * the metrics of its own text (a repeated doc_id stays two rows).
    * Rows with a null id or null text have no tokens to count and are
    * dropped, as the oracle's join drops them. `carry` names input
    * columns passed through beside the metrics. No UDFs, no collect. */
  def qualityMetrics(docs: DataFrame, carry: Seq[String] = Nil): DataFrame = {
    val base = docs
      .filter(col("doc_id").isNotNull && col("text").isNotNull)
      .select(col("doc_id") +: tokens(col("text")).as("toks") +:
        carry.map(col): _*)
    val bigrams = expr(
      "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))")
    val metrics = Seq(
      size(col("toks")).cast(LongType).as("n_tokens"),
      size(array_distinct(col("toks"))).cast(LongType).as("n_distinct"),
      when(size(col("toks")) >= 2, size(array_distinct(bigrams)).cast(LongType))
        .otherwise(0L).as("d_bigram"),
      when(size(col("toks")) >= 2, (size(col("toks")) - 1).cast(LongType))
        .otherwise(0L).as("n_bigram"),
      graft.functions.TokenFunctions.topTokenCount(col("toks")).as("top_cnt"))
    base.select((col("doc_id") +: metrics) ++ carry.map(col): _*)
  }

  /** Row shape of [[qualityMetrics]], for the typed gate below. */
  final case class QualityMetrics(
      doc_id: Long, n_tokens: Long, n_distinct: Long,
      d_bigram: Long, n_bigram: Long, top_cnt: Long)

  /** The integer-exact Gopher gate shared by pipeline_curate and
    * Graft.curateBatch: ≥20 tokens, top token ≤20%, dup bigrams ≤25%.
    *
    * Deliberately a TYPED filter: a Column predicate here gets
    * substituted through the metrics projection by predicate pushdown,
    * and the pushed-down scan filter then re-evaluates the tokenize +
    * bigram-distinct expressions up to 7× per row with no subexpression
    * reuse (measured 7× slower at sf0.1). The lambda is opaque to
    * Catalyst, so it stays ABOVE the projection and compares six already
    * computed longs — the metrics expressions run exactly once per row. */
  def qualityGate(metrics: DataFrame): DataFrame = {
    import metrics.sparkSession.implicits._
    metrics.as[QualityMetrics]
      .filter(m => m.n_tokens >= 20L &&
        m.top_cnt * 5L <= m.n_tokens &&
        (m.n_bigram - m.d_bigram) * 4L <= m.n_bigram)
      .toDF()
  }

  def qTextQuality(spark: SparkSession, sfDir: String): DataFrame = {
    qualityMetrics(Tables.load(spark, sfDir, "documents"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct"), col("top_cnt"),
        (col("n_distinct").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("distinct_ratio"),
        (col("top_cnt").cast(DoubleType) / col("n_tokens").cast(DoubleType))
          .as("top_token_ratio"),
        when(col("n_bigram") > 0L,
          (col("n_bigram") - col("d_bigram")).cast(DoubleType) /
            col("n_bigram").cast(DoubleType))
          .otherwise(0.0).as("dup_bigram_ratio"))
      .orderBy(col("doc_id"))
  }

  val qTextQualitySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |m1 AS (
       |  SELECT doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(len(list_distinct(toks)) AS BIGINT) AS n_distinct,
       |    CAST(CASE WHEN len(toks) >= 2 THEN len(list_distinct(
       |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
       |      ELSE 0 END AS BIGINT) AS d_bigram,
       |    CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS BIGINT)
       |      AS n_bigram
       |  FROM base),
       |top AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt FROM (
       |    SELECT doc_id, t, COUNT(*) AS c
       |    FROM (SELECT doc_id, unnest(toks) AS t FROM base)
       |    GROUP BY doc_id, t)
       |  GROUP BY doc_id)
       |SELECT m1.doc_id, n_tokens, n_distinct, top_cnt,
       |  CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_ratio,
       |  CAST(top_cnt AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_ratio,
       |  CASE WHEN n_bigram > 0
       |    THEN CAST(n_bigram - d_bigram AS DOUBLE) / CAST(n_bigram AS DOUBLE)
       |    ELSE 0.0 END AS dup_bigram_ratio
       |FROM m1 JOIN top ON m1.doc_id = top.doc_id
       |ORDER BY m1.doc_id""".stripMargin

  // ------------------------------------------------ decontam_ngram
  /** Benchmark decontamination: flag training documents sharing any
    * 4-token shingle with the held-out benchmark slice (deterministic
    * `doc_id % 97 = 0`, ~1%). Real pipelines run exactly this shape
    * before training so eval numbers aren't inflated by leaked data.
    *
    * Scale shape: benchmark shingles are the SMALL side (1% of docs,
    * distinct hashes only) and are broadcast; the corpus streams through
    * one explode + broadcast-hash-join + per-doc partial aggregate —
    * never shuffled as full text. Shingle hashing is the fused
    * [[graft.functions.ShingleHashes60]] codegen pass at width 4. */
  def qDecontamNgram(spark: SparkSession, sfDir: String): DataFrame = {
    val n = 4
    val docs = Tables.load(spark, sfDir, "documents")
    val sh = docs.select(col("doc_id"),
      graft.functions.ShingleFunctions
        .shingleHashes60(tokens(col("text")), HashP, n).as("hs"))
    val bench = sh.filter(col("doc_id") % 97 === 0)
      .select(explode(col("hs")).as("h"), col("doc_id").as("bench_id"))
      .distinct()
    val train = sh.filter(col("doc_id") % 97 =!= 0)
      .select(col("doc_id"), explode(col("hs")).as("h"))
    train.join(broadcast(bench), "h")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).cast(LongType).as("n_bench_docs"),
        countDistinct(col("h")).cast(LongType).as("n_shared_ngrams"))
      .orderBy(col("doc_id"))
  }

  val qDecontamNgramSql: String = {
    val sh = sqlShinglesN("toks", 4)
    s"""WITH base AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |sh AS (
       |  SELECT doc_id, ${sqlShingleHashes(sh)} AS hs FROM base),
       |bench AS (
       |  SELECT DISTINCT unnest(hs) AS h, doc_id AS bench_id
       |  FROM sh WHERE doc_id % 97 = 0),
       |train AS (
       |  SELECT doc_id, unnest(hs) AS h FROM sh WHERE doc_id % 97 <> 0)
       |SELECT t.doc_id,
       |  CAST(COUNT(DISTINCT b.bench_id) AS BIGINT) AS n_bench_docs,
       |  CAST(COUNT(DISTINCT t.h) AS BIGINT) AS n_shared_ngrams
       |FROM train t JOIN bench b ON t.h = b.h
       |GROUP BY t.doc_id
       |ORDER BY t.doc_id""".stripMargin
  }

  // --------------------------------------------------- pack_shards
  /** Token-budget shard packing: documents in deterministic doc_id order
    * are packed into consecutive training shards of `Budget` tokens —
    * `shard = floor(preceding-token-sum / Budget)` — the layout step
    * that turns a filtered corpus into fixed-size training inputs.
    *
    * Scale shape: a global running sum WITHOUT a global sort. The corpus
    * is range-partitioned on doc_id and sorted only within partitions;
    * per-partition token totals (one row per partition) come back to the
    * driver, their prefix sums become per-partition offsets, and a
    * broadcast join + per-partition window finishes the cumulative sum.
    * This is the standard distributed prefix-sum: the only global data
    * movement is the range shuffle, and the window never sees more than
    * one partition — no single-reducer `Window.orderBy` scale-killer. */
  def qPackShards(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tokens"))
    packByBudget(spark, docs, 2048L)
  }

  /** Distributed prefix-sum shard assignment over `(doc_id, n_tokens)`
    * rows (see [[qPackShards]] for the cost-shape discussion).
    *
    * Fully lazy, single plan: the per-partition totals branch and the
    * main branch share the SAME range-exchange subtree, so exchange
    * reuse (ReuseExchange / AQE stage reuse) computes the shuffle once
    * and both branches read consistent partition ids. No persist, no
    * driver collect, no checkpoint — composing callers trigger exactly
    * one execution per action and leak nothing. */
  def packByBudget(spark: SparkSession, docs: DataFrame, Budget: Long): DataFrame = {
    val nParts = math.max(spark.sparkContext.defaultParallelism / 4, 4)
    val parted = docs
      .repartitionByRange(nParts, col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .withColumn("pid", spark_partition_id())
    // running offset per partition from one-row-per-partition totals;
    // the orderBy(pid) window has no partition spec but runs over
    // nParts rows (partition-count-bounded, ~thousands on a large
    // cluster), never the corpus
    val wOff = Window.orderBy(col("pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = parted.groupBy(col("pid"))
      .agg(sum(col("n_tokens")).as("psum"))
      .select(col("pid"),
        coalesce(sum(col("psum")).over(wOff), lit(0L)).as("offset"))
    val w = Window.partitionBy(col("pid")).orderBy(col("doc_id"))
    parted.join(broadcast(offsets), "pid")
      .withColumn("cum", sum(col("n_tokens")).over(w) + col("offset"))
      // `div`: exact integral division — long/long `/` would detour
      // through DOUBLE and lose exactness past 2^53 total tokens
      .select(col("doc_id"), col("n_tokens"),
        expr(s"(cum - n_tokens) div $Budget").cast(LongType).as("shard"))
      .orderBy(col("doc_id"))
  }

  val qPackShardsSql: String =
    s"""WITH d AS (
       |  SELECT doc_id, CAST(len(${sqlTokens("text")}) AS BIGINT) AS n_tokens
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM d)
       |SELECT doc_id, n_tokens,
       |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin

  // --------------------------------------------------- text_rarity
  /** Corpus-relative token-rarity profile — the unigram-LM "surprisal"
    * quality filter, computed from EXACT integer statistics (token
    * corpus-frequencies, their per-doc sum/min, and the count of tokens
    * rarer than 1/40 of the corpus mass). A float −log2(p) average would
    * be the textbook form, but `log` is not bit-identical across libm
    * implementations and float summation is order-sensitive — integer
    * frequency sums carry the same signal and hash identically in any
    * engine; the consumer can take logs of the exact sums if it wants
    * bits.
    *
    * Scale shape: two passes — a vocabulary-sized frequency aggregate
    * (partial+final), then the frequencies join back onto the exploded
    * token stream as a SHUFFLE join on the token (uniform key, no skew):
    * at web scale the distinct-token table (typos, URLs, code) is
    * billions of rows, so a forced broadcast of the vocabulary would be
    * a driver/executor OOM — Catalyst/AQE still auto-broadcasts when
    * the vocabulary happens to be small, which is the right dynamic
    * call. Only the single-row corpus total rides an explicit broadcast
    * cross join (no driver round trip). One per-doc partial+final
    * aggregate finishes; the corpus is never self-joined or shuffled as
    * text. */
  def qTextRarity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val tok = docs.select(col("doc_id"), explode(tokens(col("text"))).as("t"))
    val freq = tok.groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = freq.agg(sum(col("c")).as("n"))
    tok.join(freq, "t")
      .crossJoin(broadcast(tot))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).cast(LongType).as("n_tokens"),
        sum(col("c")).cast(LongType).as("sum_freq"),
        min(col("c")).cast(LongType).as("min_freq"),
        countDistinct(when(col("c") * 40L < col("n"), col("t")))
          .cast(LongType).as("n_rare"))
      .orderBy(col("doc_id"))
  }

  val qTextRaritySql: String =
    s"""WITH base AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |tok AS (SELECT doc_id, unnest(toks) AS t FROM base),
       |freq AS (SELECT t, CAST(COUNT(*) AS BIGINT) AS c FROM tok GROUP BY t),
       |tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM freq)
       |SELECT doc_id,
       |  CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |  CAST(SUM(c) AS BIGINT) AS sum_freq,
       |  CAST(MIN(c) AS BIGINT) AS min_freq,
       |  CAST(COUNT(DISTINCT CASE WHEN c * 40 < n THEN t END) AS BIGINT) AS n_rare
       |FROM tok JOIN freq USING (t) CROSS JOIN tot
       |GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ---------------------------------------------------- q_asof_join
  /** As-of join — for every purchase event, the most recent click at or
    * before it by the same user (Spark has no ASOF JOIN operator; this
    * composes it from a union + running last-non-null, the plan shape
    * that beats an inequality join at any scale).
    *
    * Scale shape: both event types flow through ONE hash shuffle on
    * user_id and one within-partition sort — the window never crosses
    * users, so there is no single-reducer bottleneck and no O(n²)
    * inequality-join explosion. Ties (click and purchase in the same
    * second) order clicks first — "at or before" semantics — and among
    * same-second clicks the highest event_id wins, deterministically. */
  def qAsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("user_id"),
        col("ts").cast(LongType).as("sec"),
        col("event_id"), col("value"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("tag"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("sec"), col("tag"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev
      .withColumn("last_click_sec",
        last(when(col("tag") === 0L, col("sec")), ignoreNulls = true).over(w))
      .withColumn("last_click_value",
        last(when(col("tag") === 0L, col("value")), ignoreNulls = true).over(w))
      .filter(col("tag") === 1L)
      .select(col("event_id"), col("user_id"),
        col("sec").as("purchase_sec"),
        coalesce(col("last_click_sec"), lit(-1L)).as("click_sec"),
        coalesce(col("last_click_value"), lit(0.0)).as("click_value"))
      .orderBy(col("event_id"))
  }

  val qAsofJoinSql: String =
    """WITH e AS (
      |  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    event_id, value,
      |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS tag
      |  FROM events WHERE event_type IN ('click', 'purchase')),
      |m AS (
      |  SELECT *,
      |    last_value(CASE WHEN tag = 0 THEN sec END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY sec, tag, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_sec,
      |    last_value(CASE WHEN tag = 0 THEN value END IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY sec, tag, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_value
      |  FROM e)
      |SELECT event_id, user_id, sec AS purchase_sec,
      |  COALESCE(last_click_sec, -1) AS click_sec,
      |  COALESCE(last_click_value, 0.0) AS click_value
      |FROM m WHERE tag = 1 ORDER BY event_id""".stripMargin

  // --------------------------------------------------- q_range_join
  /** Temporal range join WITHOUT an equi key: for every error event, the
    * count and value-sum of click events (any user) within ±30 s — the
    * incident-correlation shape. Spark has no range-join operator; the
    * naive plan is a broadcast nested-loop (O(n·m) compares).
    *
    * Scale shape: interval BUCKETING turns the inequality join into an
    * equi join — each error expands to the ≤3 30-second buckets its
    * window overlaps, each click maps to exactly ONE bucket, so a
    * matching pair meets in exactly one bucket (no dedup pass needed)
    * and the exchange is a uniform-key hash join that scales linearly.
    * The residual |Δt| ≤ 30 filter runs post-join on collision rows
    * only. Zero-match errors ride back in on one broadcast left join. */
  def qRangeJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val W = 30L // half-window seconds; also the bucket width
    val ev = Tables.load(spark, sfDir, "events")
      .select(col("event_id"), col("event_type"),
        col("ts").cast(LongType).as("sec"), col("value"))
    val errors = ev.filter(col("event_type") === "error")
      .select(col("event_id"), col("sec"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("sec").as("csec"), col("value"))
    val errB = errors.withColumn("bucket",
      explode(sequence(expr(s"(sec - $W) div $W"), expr(s"(sec + $W) div $W"))))
    val clickB = clicks.withColumn("bucket", expr(s"csec div $W"))
    val matched = errB.join(clickB, "bucket")
      .filter(abs(col("csec") - col("sec")) <= W)
      .groupBy(col("event_id"))
      .agg(count(lit(1)).cast(LongType).as("n_clicks"),
        sum(col("value").cast(DecimalType(28, 6))).cast(DoubleType)
          .as("sum_value"))
    errors.join(matched, Seq("event_id"), "left")
      .select(col("event_id"), col("sec").as("error_sec"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
      .orderBy(col("event_id"))
  }

  val qRangeJoinSql: String =
    """WITH e AS (
      |  SELECT event_id, event_type, CAST(floor(epoch(ts)) AS BIGINT) AS sec,
      |    value
      |  FROM events),
      |err AS (SELECT event_id, sec FROM e WHERE event_type = 'error'),
      |clk AS (SELECT sec AS csec, value FROM e WHERE event_type = 'click')
      |SELECT err.event_id, err.sec AS error_sec,
      |  CAST(COUNT(clk.csec) AS BIGINT) AS n_clicks,
      |  COALESCE(CAST(SUM(CAST(clk.value AS DECIMAL(28,6))) AS DOUBLE), 0.0)
      |    AS sum_value
      |FROM err LEFT JOIN clk ON clk.csec BETWEEN err.sec - 30 AND err.sec + 30
      |GROUP BY err.event_id, err.sec
      |ORDER BY err.event_id""".stripMargin

  // ------------------------------------------------ q_json_extract
  /** Semi-structured extraction: pull a typed field out of the events
    * `props` JSON column and aggregate it per event type — the "JSON
    * side-channel" shape every event pipeline has.
    *
    * Extraction is string-get + `try_cast`, NOT a schema'd `from_json`:
    * the two engines' typed-JSON parsers disagree on lenient cases
    * (`{"k": "7"}` is NULL to a LongType `from_json` but 7 to a string
    * extraction + cast), while string-extract-then-try-cast has
    * identical semantics in both — malformed JSON and non-numeric
    * values become NULL, never failures, on BOTH sides of the oracle.
    *
    * Scale shape: a per-row expression inside the scan projection,
    * then one partial+final aggregate on a 5-value key. Nothing
    * driver-side, nothing quadratic. */
  def qJsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables.load(spark, sfDir, "events")
    ev.select(col("event_type"),
        expr("try_cast(get_json_object(props, '$.k') AS bigint)").as("k"))
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).cast(LongType).as("n_events"),
        count(col("k")).cast(LongType).as("n_with_k"),
        sum(col("k")).cast(LongType).as("sum_k"),
        min(col("k")).cast(LongType).as("min_k"),
        max(col("k")).cast(LongType).as("max_k"))
      .orderBy(col("event_type"))
  }

  val qJsonExtractSql: String =
    """WITH e AS (
      |  SELECT event_type,
      |    TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type,
      |  CAST(COUNT(*) AS BIGINT) AS n_events,
      |  CAST(COUNT(k) AS BIGINT) AS n_with_k,
      |  CAST(SUM(k) AS BIGINT) AS sum_k,
      |  CAST(MIN(k) AS BIGINT) AS min_k,
      |  CAST(MAX(k) AS BIGINT) AS max_k
      |FROM e GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------- emb_quantize
  /** Int8 embedding quantization — the ANN-serving prep step: each
    * vector scales to max|v| = 127 and rounds half-up. Outputs are
    * integer summaries (quantized sum, saturated-dim count, dims) so
    * the oracle compare is exact; the arithmetic is float→double cast
    * (exact), multiply/divide (IEEE-identical), and floor (exact) —
    * the same bit-portability discipline as text_rarity.
    *
    * Scale shape: a pure map pass of array-local lambdas — no shuffle,
    * no explode; the interpreted higher-order functions are acceptable
    * here because the pass is map-only and runs once per row (a fused
    * codegen expression is the upgrade path if this ever becomes hot). */
  def qEmbQuantize(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = Tables.load(spark, sfDir, "embeddings")
    emb
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("maxabs", array_max(transform(col("v"), x => abs(x))))
      .filter(col("maxabs") > 0.0)
      .withColumn("q", transform(col("v"),
        x => floor((x * lit(127.0)) / col("maxabs") + lit(0.5)).cast(LongType)))
      .select(col("vec_id"),
        size(col("q")).cast(LongType).as("n_dims"),
        aggregate(col("q"), lit(0L), (acc, e) => acc + e).as("sum_q"),
        size(filter(col("q"), e => abs(e) === 127L)).cast(LongType).as("n_sat"))
      .orderBy(col("vec_id"))
  }

  val qEmbQuantizeSql: String =
    """WITH e AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
      |  FROM embeddings),
      |m AS (
      |  SELECT vec_id, v,
      |    list_max(list_transform(v, x -> abs(x))) AS maxabs
      |  FROM e),
      |q AS (
      |  SELECT vec_id,
      |    list_transform(v, x -> CAST(floor((x * 127.0) / maxabs + 0.5) AS BIGINT))
      |      AS qv
      |  FROM m WHERE maxabs > 0.0)
      |SELECT vec_id,
      |  CAST(len(qv) AS BIGINT) AS n_dims,
      |  CAST(list_sum(qv) AS BIGINT) AS sum_q,
      |  CAST(len(list_filter(qv, e -> abs(e) = 127)) AS BIGINT) AS n_sat
      |FROM q ORDER BY vec_id""".stripMargin

  // ------------------------------------------------ q_pivot_events
  /** Pivot: per-user event-type counts as COLUMNS (`df.pivot` with the
    * value list given explicitly — an implicit pivot runs an extra
    * distinct pass over the data to discover values, and its column
    * order would be data-dependent).
    *
    * Scale shape: one partial+final aggregate on (user_id × 5 pivot
    * values); the pivot is aggregation shaping, not a join. */
  def qPivotEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    val ev = Tables.load(spark, sfDir, "events")
    val pivoted = ev.groupBy(col("user_id"))
      .pivot("event_type", types)
      .agg(count(lit(1)))
    pivoted.select(col("user_id") +:
        types.map(t => coalesce(col(t), lit(0L)).cast(LongType).as(s"n_$t")): _*)
      .orderBy(col("user_id"))
  }

  val qPivotEventsSql: String = {
    val cols = Seq("click", "error", "purchase", "signup", "view")
      .map(t =>
        s"CAST(COUNT(*) FILTER (event_type = '$t') AS BIGINT) AS n_$t")
      .mkString(",\n  ")
    s"""SELECT user_id,
       |  $cols
       |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin
  }

  // ---------------------------------------------- q_unpivot_events
  /** Unpivot (melt): the per-user type-count matrix back to long form
    * via `unpivot` — the inverse reshaping of [[qPivotEvents]], zero-count
    * combinations dropped. Composing pivot → unpivot exercises both
    * reshape directions against one oracle (the plain long-form counts).
    *
    * Scale shape: unpivot is a map-side row expansion (one row in, five
    * out), no shuffle beyond the upstream pivot aggregate. */
  def qUnpivotEvents(spark: SparkSession, sfDir: String): DataFrame = {
    val types = Seq("click", "error", "purchase", "signup", "view")
    qPivotEvents(spark, sfDir)
      .unpivot(
        ids = Array(col("user_id")),
        values = types.map(t => col(s"n_$t")).toArray,
        variableColumnName = "event_type",
        valueColumnName = "n_events")
      .filter(col("n_events") > 0L)
      // the unpivot variable carries the pivoted column NAME (n_click);
      // strip the prefix so the long form round-trips to source values
      .select(col("user_id"),
        expr("substring(event_type, 3)").as("event_type"),
        col("n_events"))
      .orderBy(col("user_id"), col("event_type"))
  }

  val qUnpivotEventsSql: String =
    """SELECT user_id, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
      |FROM events
      |GROUP BY user_id, event_type
      |ORDER BY user_id, event_type""".stripMargin

  // ------------------------------------------------ pipeline_curate
  /** The END-TO-END curation pipeline in one query — exactly what a
    * training-data job runs nightly, composed from the suite's own
    * operators:
    *  1. QUALITY GATE: integer-exact Gopher-style thresholds (≥20
    *     tokens, top token ≤20% of the doc, duplicate bigrams ≤25%) —
    *     integer comparisons so both engines agree bit-for-bit;
    *  2. DEDUP: near-dup clusters (SimHash Hamming≤3 closure, the
    *     dedup_components machinery) keep only their canonical min-id
    *     doc; unclustered docs pass through;
    *  3. LAYOUT: survivors pack into 2048-token shards in doc_id order
    *     via the distributed prefix-sum (no global sort).
    * Output: one row per surviving doc with its shard assignment.
    *
    * Composing through DataFrames means Catalyst fuses the stages —
    * quality metrics and fingerprints read the corpus once each, the
    * cluster table (pairs-sized, tiny) joins in, and the only
    * corpus-wide movement is the range shuffle of survivors. */
  def qPipelineCurate(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.load(spark, sfDir, "documents")
    val quality = qualityGate(qualityMetrics(docs))
    val comps = Dedup.qDedupComponents(spark, sfDir) // (doc_id, component)
    val kept = quality
      .join(comps, Seq("doc_id"), "left")
      .filter(col("component").isNull || col("component") === col("doc_id"))
      .select(col("doc_id"), col("n_tokens"))
    packByBudget(spark, kept, 2048L)
  }

  val qPipelineCurateSql: String =
    s"""WITH RECURSIVE ${Dedup.componentsCtesSql},
       |q_base AS (
       |  SELECT doc_id, ${sqlTokens("text")} AS toks FROM documents),
       |q_tok AS (SELECT doc_id, unnest(toks) AS t FROM q_base),
       |q_top AS (
       |  SELECT doc_id, CAST(MAX(c) AS BIGINT) AS top_cnt FROM (
       |    SELECT doc_id, t, COUNT(*) AS c FROM q_tok GROUP BY doc_id, t)
       |  GROUP BY doc_id),
       |q_m AS (
       |  SELECT b.doc_id,
       |    CAST(len(toks) AS BIGINT) AS n_tokens,
       |    CAST(CASE WHEN len(toks) >= 2 THEN len(list_distinct(
       |      list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])))
       |      ELSE 0 END AS BIGINT) AS d_bigram,
       |    CAST(CASE WHEN len(toks) >= 2 THEN len(toks) - 1 ELSE 0 END AS BIGINT)
       |      AS n_bigram,
       |    top_cnt
       |  FROM q_base b JOIN q_top ON b.doc_id = q_top.doc_id),
       |kept AS (
       |  SELECT m.doc_id, m.n_tokens
       |  FROM q_m m LEFT JOIN comp ON m.doc_id = comp.doc_id
       |  WHERE m.n_tokens >= 20
       |    AND m.top_cnt * 5 <= m.n_tokens
       |    AND (m.n_bigram - m.d_bigram) * 4 <= m.n_bigram
       |    AND (comp.component IS NULL OR comp.component = m.doc_id)),
       |c AS (
       |  SELECT doc_id, n_tokens,
       |    SUM(n_tokens) OVER (ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM kept)
       |SELECT doc_id, n_tokens,
       |  CAST((cum - n_tokens) // 2048 AS BIGINT) AS shard
       |FROM c ORDER BY doc_id""".stripMargin

  val entries: Map[String, ((SparkSession, String) => DataFrame, String)] = Map(
    "text_quality" -> (qTextQuality _, qTextQualitySql),
    "text_rarity" -> (qTextRarity _, qTextRaritySql),
    "decontam_ngram" -> (qDecontamNgram _, qDecontamNgramSql),
    "pack_shards" -> (qPackShards _, qPackShardsSql),
    "q_asof_join" -> (qAsofJoin _, qAsofJoinSql),
    "q_range_join" -> (qRangeJoin _, qRangeJoinSql),
    "q_json_extract" -> (qJsonExtract _, qJsonExtractSql),
    "emb_quantize" -> (qEmbQuantize _, qEmbQuantizeSql),
    "q_pivot_events" -> (qPivotEvents _, qPivotEventsSql),
    "q_unpivot_events" -> (qUnpivotEvents _, qUnpivotEventsSql),
    "pipeline_curate" -> (qPipelineCurate _, qPipelineCurateSql))
}
