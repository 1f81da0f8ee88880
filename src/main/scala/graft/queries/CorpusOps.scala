package graft.queries

import graft.{Q, Tables}
import graft.operators.{Materialize, PrefixScan}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 corpus/training-pipeline operators (SURVEY.md §2.2-C):
  * embedding centroids, sequence packing, SCD2 intervals, bloom-join
  * reduction, stratified sampling, source mixing, fuzzy dedup, TF-IDF,
  * funnel / retention / WAU / transitions / CDC-latest analytics,
  * bucketed checksums, deterministic mode, exact moments, mergeable HLL
  * sketches, z-order keys, unigram/bigram LM quality scores, Space-Saving
  * top-k, salted join, k-anonymity and erasure audits.
  *
  * Oracle-checked (hash-match vs DuckDB on the same parquet) except the
  * sketch-estimate entries (spec-pinned instead); scale notes inline per
  * operator.
  */
object CorpusOps {

  // ONE definition of the oracle-side table prefixes (the tokenization
  // contract lives with the battery in LlmOps)
  private val DOCS_T = LlmOps.DOCS_T

  /** Shared oracle body of `q_text_unigram_nll` — `q_text_ppl_buckets`
    * wraps the same text so the two entries cannot drift.
    */
  private lazy val UnigramNllSql =
    s"""WITH toks AS (
       | SELECT doc_id, unnest(toks) AS tok FROM $DOCS_T),
       |sp AS (SELECT doc_id, CASE WHEN ((doc_id % 2147483648) * 40503) % 100 < 80 THEN 'train'
       |        WHEN ((doc_id % 2147483648) * 40503) % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents),
       |tr AS (SELECT tok, count(1) AS cnt FROM toks JOIN sp USING (doc_id) WHERE split = 'train' GROUP BY 1),
       |trl AS (SELECT tok, CAST(round(ln(cnt + 1.0) * 1e6, 0) AS BIGINT) AS lp_num FROM tr),
       |nv AS (SELECT CAST(sum(cnt) AS BIGINT) AS n, count(1) AS v FROM tr),
       |dl AS (SELECT CAST(round(ln(CAST(n + v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lp_den FROM nv),
       |scored AS (
       | SELECT t.doc_id AS doc_id,
       |  coalesce(trl.lp_num, 0) - dl.lp_den AS lp_micro
       | FROM toks t LEFT JOIN trl ON t.tok = trl.tok CROSS JOIN dl)
       |SELECT s.doc_id AS doc_id, sp.split, count(1) AS n_toks,
       | -(CAST(sum(s.lp_micro) AS DOUBLE) / 1e6) / count(1) AS nll
       |FROM scored s JOIN sp ON s.doc_id = sp.doc_id
       |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin
  private val EV = LlmOps.EV

  // ---------------------------------------------------------- embed centroid

  /** Per-label embedding centroid via the typed [[graft.functions.VecMean]]
    * Aggregator: vectors fold into one (sums, count) buffer per partition
    * per label BEFORE the shuffle — the shuffle carries K × (dim longs),
    * independent of row count (posexplode+avg would inflate the scan ×dim
    * pre-aggregation; see VecMean scaladoc). The centroid array explodes to
    * (label, pos, mean_val) scalar rows only AFTER aggregation — K×dim
    * rows total — so the output stays driver-comparator-hashable.
    */
  def qEmbedCentroid(spark: SparkSession, sfDir: String): DataFrame = {
    val vm = udaf(graft.functions.VecMean)
    Tables
      .embeddings(spark, sfDir)
      .groupBy(col("label"))
      .agg(vm(col("embedding")).as("centroid"))
      .select(col("label"), posexplode(col("centroid")).as(Seq("pos", "mean_val")))
      .orderBy("label", "pos")
  }

  // ------------------------------------------------------- embed whitening

  /** Per-dimension whitening statistics over the embedding corpus — the
    * affine (shift = mean, scale = std) table a standardization /
    * whitening preprocessing step applies before PCA, k-means, or
    * quantization (a dimension with 10× the variance of the rest
    * dominates every unscaled distance; this readout is where that
    * shows). Output: one row per dimension with n, mean, std (population
    * form, the whitening convention), min, max.
    *
    * Exactness: elements quantize to 1e-6 fixed-point LONGs at the scan;
    * Σv and Σv² accumulate as DECIMAL(38,0) — exact integers in any
    * partitioning or row count (a LONG Σv² would wrap near 2.7e7 rows
    * per dim at this value range; decimal does not). mean/var/std then
    * derive by identical IEEE steps from identical integers on both
    * engines, rounded 1e-6 only at the readout. min/max of float→double
    * casts are exact.
    *
    * Scale shape: posexplode fans each vector to 64 (dim, vq) rows, but
    * partial aggregation collapses every partition to ≤ 64 rows before
    * the only shuffle (64-key hash) — the wire carries |partitions|×64
    * decimal triples, never elements. One pass, no window, no driver
    * state.
    */
  def qEmbedWhitening(spark: SparkSession, sfDir: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    Tables
      .embeddings(spark, sfDir)
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(
        col("dim"),
        col("v").cast("double").as("vd"),
        round(col("v").cast("double") * 1e6).cast("long").as("vq"))
      .groupBy("dim")
      .agg(
        count(lit(1)).as("n"),
        sum(col("vq").cast(dec)).as("s"),
        sum((col("vq") * col("vq")).cast(dec)).as("ss"),
        min(col("vd")).as("min_v"),
        max(col("vd")).as("max_v"))
      .select(
        col("dim"),
        col("n"),
        round(col("s").cast("double") / col("n") / 1e6, 6).as("mean"),
        round(
          sqrt(
            col("ss").cast("double") / col("n") -
              (col("s").cast("double") / col("n")) * (col("s").cast("double") / col("n"))) / 1e6,
          6).as("std"),
        col("min_v"),
        col("max_v"))
      .orderBy("dim")
  }

  // ------------------------------------------------------- sequence packing

  /** Context-window packing (GPT-style pretraining batching): concatenate
    * each stream's documents in doc_id order and chop into 2048-token
    * windows; a document belongs to the pack its first token lands in.
    * Output: per-pack manifest (n_docs, n_tokens, first/last doc).
    *
    * Scale shape: the running sum is a window over (split, bucket) — the
    * bucket (doc_id mod 8 here) is the parallelism knob. At 100 TB you
    * size buckets so each stream is one task's worth of sequential scan;
    * packing is then embarrassingly parallel across buckets and the only
    * shuffle is the hash-partition on (split, bucket). No global sort, no
    * driver-side loop — and training-data packing does not need a single
    * global stream, only deterministic ones.
    *
    * Token counts come from the single-pass
    * [[graft.functions.TextProfile]] codegen kernel (same count the
    * oracle's `len(toks)` computes — parity proven by `q_text_tokens`).
    */
  def qPackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    val prof = graft.functions.TextProfile.profile(col("text"))
    val w = Window
      .partitionBy("split", "bucket")
      .orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables
      .documents(spark, sfDir)
      .select(
        col("doc_id"),
        LlmOps.splitCol.as("split"),
        pmod(col("doc_id"), lit(8)).as("bucket"),
        prof.getField("n_tokens").cast("long").as("toks"))
      .withColumn("start_off", sum(col("toks")).over(w) - col("toks"))
      .select(col("split"), col("bucket"), expr("start_off div 2048").as("pack_id"),
        col("doc_id"), col("toks"))
      .groupBy("split", "bucket", "pack_id")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
      .orderBy("split", "bucket", "pack_id")
  }

  // ------------------------------------------------------------ SCD2 intervals

  /** Temporal interval (SCD2-style) construction: each user's event value
    * is current from its own timestamp until the next event's —
    * `lead(ts)` over (user_id, ts, event_id); the last interval is open
    * (NULL valid_to, is_current = 1). One hash-partition shuffle on
    * user_id; intervals are born sorted within the partition — the
    * standard change-capture → dimension-table shape.
    */
  def qEventsScd2(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(
        col("user_id"),
        col("event_id"),
        col("ts").as("valid_from"),
        col("valid_to"),
        col("value"),
        col("valid_to").isNull.cast("int").as("is_current"))
      .orderBy("user_id", "valid_from", "event_id")
  }

  // ------------------------------------------------- point-in-time join

  /** Point-in-time (temporal) join over SCD2 intervals — the feature-store
    * correctness pattern: each purchase is joined to the user's profile
    * version (here: the `view`-event value history) that was valid AT the
    * purchase instant, `valid_from ≤ ts < valid_to`. Training-data
    * pipelines need exactly this to avoid feature leakage (joining
    * TODAY'S dimension row onto LAST YEAR'S facts).
    *
    * Versions are half-open [from, to) intervals from the same
    * `lead()`-window construction as `q_events_scd2`, so time partitions
    * exactly and each fact matches ≤ 1 version (ties on valid_from
    * collapse to empty intervals). LEFT join keeps pre-history facts with
    * NULL dims. Scale shape: an equi-join keyed on the entity (user_id)
    * with the interval predicate as a join residual — versions-per-user
    * is bounded (profile churn, not event volume), so there's no range
    * explosion; one hash-partition shuffle per side.
    */
  def qJoinScd2Pit(spark: SparkSession, sfDir: String): DataFrame = {
    val events = Tables.events(spark, sfDir)
    val w = Window.partitionBy("user_id").orderBy(col("valid_from").asc, col("dim_event_id").asc)
    val dim = events
      .where(col("event_type") === "view")
      .select(
        col("user_id"),
        col("event_id").as("dim_event_id"),
        col("ts").as("valid_from"),
        col("value").as("dim_value"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
    val facts = events
      .where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
    facts
      .join(
        dim,
        facts("user_id") === dim("user_id") &&
          col("valid_from") <= col("ts") &&
          (col("valid_to").isNull || col("ts") < col("valid_to")),
        "left")
      .select(
        col("event_id"),
        facts("user_id"),
        col("ts"),
        col("value"),
        col("dim_event_id"),
        col("dim_value"),
        col("valid_from"))
      .orderBy("event_id")
  }

  // ---------------------------------------------------- stratified sampling

  /** Stratified deterministic sample: the "first" 20 documents per
    * language in content-hash order (md5 then doc_id tiebreak) — balanced
    * per-stratum corpus sampling that is reproducible across engines,
    * runs, and partitionings (the property `df.sample` can't give; see
    * `q_sample_hash`). One hash-partition shuffle on the stratum key; the
    * per-stratum top-k is a window row_number — at 100 TB, strata are
    * languages (dozens), so if a single stratum outgrows a partition the
    * same query runs over (lang, shard) subkeys first, exactly like the
    * packing bucket knob.
    */
  def qSampleStratified(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("lang").orderBy(col("h"), col("doc_id"))
    Tables
      .documents(spark, sfDir)
      .select(col("doc_id"), col("lang"), md5(col("text").cast("binary")).as("h"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 20)
      .select(col("lang"), col("rk"), col("doc_id"), col("h"))
      .orderBy("lang", "rk")
  }

  /** Source-weighted corpus mixing: each source keeps a deterministic
    * content-hash fraction (even-numbered sources 100%, odd 25% here —
    * the "upsample curated, downsample crawl" shape of pretraining-mix
    * construction). The keep decision is a pure per-row predicate on
    * md5(text) — evaluated at the scan, no shuffle, reproducible across
    * engines and runs; the output is the per-source audit (kept counts).
    */
  def qMixSources(spark: SparkSession, sfDir: String): DataFrame = {
    val srcNum = regexp_extract(col("source"), "([0-9]+)$", 1).cast("int")
    val keepFrac = when(pmod(srcNum, lit(2)) === 0, lit(256)).otherwise(lit(64))
    Tables
      .documents(spark, sfDir)
      .where(conv(substring(md5(col("text").cast("binary")), 1, 2), 16, 10).cast("int") < keepFrac)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("source")
  }

  // ------------------------------------------------------- bloom-filter join

  /** Semi-join reduction via a bloom filter: build a compact filter of the
    * dim side's join keys (`df.stat.bloomFilter` — a distributed agg whose
    * result is a bounded ~230 KB bitset, the same "small model state on
    * the driver" pattern as IVF centroids), broadcast it, and pre-filter
    * the fact scan BEFORE the join shuffle. False positives are removed
    * by the exact join that follows, so the result is exact and
    * oracle-checkable against the plain join.
    *
    * Why it matters at 100 TB: the fact side shuffles only rows that can
    * match (~5% here), instead of all of them — the manual form of
    * Spark's runtime row-level filtering, made explicit so the reduction
    * is visible in the plan (Filter above the scan, then the join). The
    * probe is one xxhash-based bitset test per row; `mightContain` has no
    * public Column form (BloomFilterMightContain is internal), hence the
    * narrowly-scoped UDF.
    */
  def qJoinBloom(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = Tables
      .orders(spark, sfDir)
      .where(col("o_totalprice") > 150000.0)
      .select(col("o_orderkey"), col("o_orderpriority"))
    // fixed expected-items bound (~5% of orders pass; 200k covers sf1)
    // instead of an eager dim.count() job at DataFrame-CONSTRUCTION time
    // — the bloomFilter aggregation below is the one intentional eager
    // model-build step (like the IVF centroids); exceeding the bound
    // only raises the FP rate, and FPs are removed by the exact join.
    val bf = dim.stat.bloomFilter("o_orderkey", 200000L, 0.01)
    val bfB = spark.sparkContext.broadcast(bf)
    val mightContain = udf((k: Long) => bfB.value.mightContain(k))
    Tables
      .lineitem(spark, sfDir)
      .where(mightContain(col("l_orderkey")))
      .join(dim, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_orderpriority"))
      .agg(
        count(lit(1)).as("n_items"),
        Tables.dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
      .orderBy("o_orderpriority")
  }

  // ----------------------------------------------------- exact distributed corr

  /** Per-group Pearson correlation from exact fixed-point power sums:
    * each addend (x, y, xy, x², y²) is quantized to an integer grain so
    * the five sums are partial-merge-order-independent (the engine-parity
    * property Spark's built-in `corr`'s streaming co-moment merge can't
    * give), then the closed form runs on doubles in the same IEEE
    * operation order as the oracle. One map-side-combined shuffle of
    * 5 longs + a count per group — the textbook "algebraic aggregate"
    * scale shape. Grains per [[qAggCorrMatrix]]'s q/p bounds (round 6:
    * decimal sums → long sums, ~2× on the multi-sum constant factor).
    */
  def qAggCorr(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.fsum
    val g = corrMatrixGrains
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        fsum(x, g("q")).as("sx"),
        fsum(y, g("p")).as("sy"),
        fsum(x * y, g("qp")).as("sxy"),
        fsum(x * x, g("qq")).as("sxx"),
        fsum(y * y, g("pp")).as("syy"))
      .select(
        col("l_returnflag"),
        col("n"),
        // round to 1e-9: DuckDB's C++ build may contract a*b - c*d into an
        // FMA (one rounding instead of two), so the raw doubles can differ
        // in the last ulps; 9 decimals is far below any analytical use of
        // a correlation and far above the ulp noise.
        round(
          (col("n") * col("sxy") - col("sx") * col("sy")) /
            (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
              sqrt(col("n") * col("syy") - col("sy") * col("sy"))),
          9).as("corr_qty_price"))
      .orderBy("l_returnflag")
  }

  /** Per-sum fixed-point grains for [[qAggCorrMatrix]], keyed by measure
    * (q/p/d/t) or product pair. Sized per the measure's TPC-H bound so the
    * long accumulator holds through SF 1 (see qAggCorrMatrix scaladoc);
    * the oracle SQL hard-codes the same literals.
    */
  private[queries] val corrMatrixGrains: Map[String, Double] = Map(
    "q" -> 1e6, "p" -> 1e6, "d" -> 1e9, "t" -> 1e9,
    "qq" -> 1e6, "pp" -> 1e2, "dd" -> 1e9, "tt" -> 1e9,
    "qp" -> 1e4, "qd" -> 1e9, "qt" -> 1e9,
    "pd" -> 1e6, "pt" -> 1e6, "dt" -> 1e9)

  /** Grains for [[qAggMoments]]'s quantity power sums (q ≤ 50 ⇒ q⁴ ≤
    * 6.25e6; s4's grain keeps the long sum < 2^63 through SF 1+).
    */
  private[queries] val momentsGrains: Map[String, Double] =
    Map("s1" -> 1e6, "s2" -> 1e6, "s3" -> 1e6, "s4" -> 1e4)

  /** Oracle-side twin of [[graft.Tables.fsum]], rendered from the SAME
    * grain constant the Spark plan uses — the only way grain edits stay
    * in lockstep on both sides (shared by the corr / corr-matrix /
    * linreg / moments oracles).
    */
  private[queries] def fsumSql(sqlExpr: String, grain: Double, alias: String): String =
    s"CAST(sum(CAST(round(($sqlExpr) * $grain) AS BIGINT)) AS DOUBLE) / $grain AS $alias"

  /** Full pairwise correlation MATRIX over four lineitem measures from
    * ONE scan: 15 exact power sums (4 + 4 squares + 6 crosses + count)
    * feed all six pairwise correlations, unpivoted long-form via `stack` —
    * the "profile every numeric column pair" one-pass shape (naively: six
    * separate `corr()` scans). Same per-group re-aggregatability and
    * FMA-guard 1e-9 rounding as [[qAggCorr]].
    *
    * Unlike [[qAggCorr]]'s DECIMAL(18,6) sums, the 15 sums here are
    * fixed-point LONGs (each addend `round(expr * grain)` as integer), so
    * the hot loop is double-mult + long-add inside whole-stage codegen
    * instead of 15 BigDecimal buffer updates — the dominant constant
    * factor of the decimal variant. Exactness is preserved: integer sums
    * are partial-merge-order-independent and both engines run the
    * identical quantize → integer-sum → double closed form. The grain is
    * per-sum, sized so |sum| stays far below 2^63 for the measure's
    * TPC-H value bound through SF 1 (e.g. price² ≤ 1.2e10 → grain 1e2 →
    * ≤ 7.3e18 at 6M rows); at larger row counts the grains shed a digit
    * or the partial sums re-merge through a decimal — documented, not
    * silent.
    */
  def qAggCorrMatrix(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.fsum
    val m = Seq(
      "q" -> col("l_quantity"),
      "p" -> col("l_extendedprice"),
      "d" -> col("l_discount"),
      "t" -> col("l_tax"))
    val grain = CorpusOps.corrMatrixGrains
    val sums = m.map { case (k, c) => fsum(c, grain(k)).as(s"s_$k") } ++
      m.map { case (k, c) => fsum(c * c, grain(s"$k$k")).as(s"s_$k$k") } ++
      (for {
        i <- m.indices
        j <- m.indices if i < j
      } yield {
        val key = s"${m(i)._1}${m(j)._1}"
        fsum(m(i)._2 * m(j)._2, grain(key)).as(s"s_$key")
      })
    def corrOf(a: String, b: String) =
      round(
        (col("n") * col(s"s_$a$b") - col(s"s_$a") * col(s"s_$b")) /
          (sqrt(col("n") * col(s"s_$a$a") - col(s"s_$a") * col(s"s_$a")) *
            sqrt(col("n") * col(s"s_$b$b") - col(s"s_$b") * col(s"s_$b"))),
        9)
    val agg = Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sums: _*)
    val pairs = for {
      i <- m.indices
      j <- m.indices if i < j
    } yield s"${m(i)._1}_${m(j)._1}"
    val stackArgs = pairs.map(name => s"'$name', corr_$name").mkString(", ")
    pairs
      .foldLeft(agg) { (df, name) =>
        val Array(a, b) = name.split("_")
        df.withColumn(s"corr_$name", corrOf(a, b))
      }
      .selectExpr(
        "l_returnflag",
        "n",
        s"stack(${pairs.length}, $stackArgs) AS (pair, corr)")
      .orderBy("l_returnflag", "pair")
  }

  /** Exact per-group distribution moments — population skewness and excess
    * kurtosis from the first four power sums, the same
    * merge-order-independent recipe as [[qAggCorr]]: each power sum is an
    * exact fixed-point LONG aggregate (map-side combined, one shuffle of
    * 4 longs + a count per group), the closed forms run on doubles with
    * identical operation order in both engines, rounded to 1e-9 (FMA
    * guard). Spark's own `skewness`/`kurtosis` builtins are NOT used on
    * purpose: their streaming-update formulation is order-sensitive in the
    * last ulps and DuckDB's differ in bias convention — power sums are the
    * portable, re-aggregatable form (precomputed per partition, mergeable
    * to any grouping — the same argument as the HLL sketches).
    */
  def qAggMoments(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.fsum
    val g = momentsGrains
    val x = col("l_quantity")
    val agg = Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        fsum(x, g("s1")).as("s1"),
        fsum(x * x, g("s2")).as("s2"),
        fsum(x * x * x, g("s3")).as("s3"),
        fsum(x * x * x * x, g("s4")).as("s4"))
    val n = col("n").cast("double")
    val m = col("s1") / n
    val m2 = col("s2") / n - m * m
    val m3 = col("s3") / n - lit(3.0) * m * (col("s2") / n) + lit(2.0) * m * m * m
    val m4 = col("s4") / n - lit(4.0) * m * (col("s3") / n) +
      lit(6.0) * m * m * (col("s2") / n) - lit(3.0) * m * m * m * m
    agg
      .select(
        col("l_returnflag"),
        col("n"),
        round(m, 9).as("mean_qty"),
        round(m3 / (m2 * sqrt(m2)), 9).as("skew_qty"),
        round(m4 / (m2 * m2) - lit(3.0), 9).as("kurt_qty"))
      .orderBy("l_returnflag")
  }

  // ------------------------------------------------------ time-series resample

  /** Time-series resample: hourly snapshot grid per user with
    * last-observation-carried-forward gap fill — the events stream becomes
    * an evenly-spaced series (the feature-store / monitoring-table shape).
    * Three stages, all key-partitioned: (1) per-(user, hour) last event via
    * `max_by(value, struct(ts, event_id))` — a partial-aggregating shuffle,
    * no window sort; (2) the hour grid generated DISTRIBUTED via
    * `sequence()`+`explode` from each user's min/max (never a driver loop);
    * (3) left join grid←observations + one `last(ignoreNulls)` window per
    * user for the carry-forward. Grid size is users × hours — independent
    * of event count, the right asymptotic for a dense event stream.
    */
  def qEventsResample(spark: SparkSession, sfDir: String): DataFrame = {
    // r16 restructure (guide §2.4 / §8 "decide with small rows"): the old
    // shape materialized the hour grid from a SECOND events aggregation and
    // left-joined observations back onto it — two corpus scans, a
    // (user, hour) SMJ, and a fourth exchange for the LOCF window. But the
    // grid is fully determined by the observation runs themselves: each
    // observed bucket emits itself plus the gap slots up to the next
    // observed bucket (lead), with the user's max bucket closing the last
    // run — identical slot set, since the old grid spanned [min, max] event
    // hours and every run boundary is an observed bucket. The LOCF value is
    // resolved BEFORE the fan-out on the bucket rows (last ignoreNulls over
    // the growing frame — null-valued buckets still carry the previous
    // non-null value, the join shape's exact semantics), so the explode is
    // a pure map-side generator. One events pass, two exchanges total
    // (bucket agg, per-user window), no join. Oracle unchanged — proves
    // slot-set and LOCF equivalence.
    val hourUs = 3600000000L
    val obs = Tables
      .events(spark, sfDir)
      .select(
        col("user_id"),
        expr(s"unix_micros(ts) div $hourUs").as("h"),
        col("value"),
        col("ts"),
        col("event_id"))
      .groupBy(col("user_id"), col("h"))
      .agg(max_by(col("value"), struct(col("ts"), col("event_id"))).as("v_last"))
    val byH = Window.partitionBy("user_id").orderBy(col("h").asc)
    val grow = byH.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    obs
      .select(
        col("user_id"),
        col("h"),
        col("v_last").isNotNull.as("obs_here"),
        last(col("v_last"), ignoreNulls = true).over(grow).as("v_fill"),
        lead(col("h"), 1).over(byH).as("h_next"))
      .select(
        col("user_id"),
        col("h"),
        col("obs_here"),
        col("v_fill"),
        explode(sequence(col("h"), coalesce(col("h_next") - 1, col("h")))).as("hh"))
      .select(
        col("user_id"),
        timestamp_micros(col("hh") * hourUs).as("gt"),
        (col("obs_here") && col("hh") === col("h")).cast("int").as("observed"),
        col("v_fill").as("value_locf"))
      .orderBy("user_id", "gt")
  }

  /** Linear-interpolation gap fill on the per-type 5-minute series — the
    * OTHER standard resample semantics beside [[qEventsResample]]'s LOCF:
    * missing grid slots get the straight line between the surrounding
    * observed means, the shape a monitoring/feature pipeline wants for
    * rate-like metrics where carry-forward fabricates plateaus.
    *
    * Exactness: each observed slot's mean is `dsum(value)/count` (decimal
    * quantized sum ÷ exact long — one IEEE division, engine-identical);
    * the interpolation `pv + (nv−pv)·((b−pb)/(nb−pb))` is a fixed IEEE
    * sequence on those means and exact long bucket indices, mirrored
    * op-for-op by the oracle. Grid ENDS are observed by construction
    * (span = [min, max] per type), so every missing slot has both
    * neighbors; the one-sided fallback branches are kept for semantic
    * clarity but are unreachable on any span.
    *
    * Scale shape: one (type, bucket) partial-agg shuffle over events is
    * the only corpus-scale pass; the grid is slots × |types| (wall time,
    * not corpus) and fans out CHUNKED — days first, then ≤288 in-day
    * slots — so a decade span explodes ~3.7k day rows into bounded
    * arrays instead of materializing one multi-million-element
    * `sequence()` array per type (the q_dq_heartbeat ADVICE caveat,
    * closed here by construction). The four neighbor lookups are two
    * WindowExec frames per type over the grid.
    */
  def qEventsInterpolate(spark: SparkSession, sfDir: String): DataFrame = {
    val slotUs = 300000000L
    val perDay = 288L
    val obs = Tables
      .events(spark, sfDir)
      .where(col("value").isNotNull)
      .groupBy(col("event_type"), expr(s"unix_micros(ts) div $slotUs").as("bucket"))
      .agg(Tables.dsum(col("value")).as("s"), count(lit(1)).as("n"))
      .select(
        col("event_type").as("o_et"),
        col("bucket").as("o_bucket"),
        (col("s") / col("n")).as("v_obs"))
      // materialize the ONE corpus-scale pass (r16, guide §2.4): obs is
      // referenced by the span agg AND the grid join — uncheckpointed,
      // each reference re-ran the events (type, bucket) aggregation.
      // |types| × slots rows (wall-time-sized, not corpus-sized).
      .transform(Materialize.eager)
    val span = obs
      .groupBy(col("o_et"))
      .agg(min(col("o_bucket")).as("b0"), max(col("o_bucket")).as("b1"))
      .transform(Materialize.eager) // ≤|types| rows; grid fan-out rereads this, not events
    val grid = Tables.chunkedSlotGrid(
      span.withColumnRenamed("o_et", "event_type"),
      "event_type",
      "b0",
      "b1",
      perDay)
    val joined = grid
      .join(
        obs,
        col("event_type") === col("o_et") && col("bucket") === col("o_bucket"),
        "left")
    // BOTH neighbor lookups run as GROWING frames (unboundedPreceding → −1),
    // the "next" one over a REVERSED sort: Spark evaluates a growing frame
    // incrementally (O(n) per partition), while the naive
    // (1, unboundedFollowing) shrinking frame re-aggregates the remaining
    // rows for EVERY row — O(n²) per partition, measured 25 s vs 2 s on the
    // sf0.01 grid. Cost of the trick: the grid is sorted twice (once per
    // direction); it is wall-time-sized, not corpus-sized.
    val wPrev = Window
      .partitionBy("event_type")
      .orderBy(col("bucket").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val wNextRev = Window
      .partitionBy("event_type")
      .orderBy(col("bucket").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val pv = last(col("v_obs"), ignoreNulls = true).over(wPrev)
    val pb = last(when(col("v_obs").isNotNull, col("bucket")), ignoreNulls = true).over(wPrev)
    val nv = last(col("v_obs"), ignoreNulls = true).over(wNextRev)
    val nb = last(when(col("v_obs").isNotNull, col("bucket")), ignoreNulls = true).over(wNextRev)
    joined
      .select(
        col("event_type"),
        timestamp_micros(col("bucket") * slotUs).as("gt"),
        col("v_obs").isNotNull.cast("int").as("observed"),
        when(col("v_obs").isNotNull, col("v_obs"))
          .when(
            pv.isNotNull && nv.isNotNull,
            pv + (nv - pv) * ((col("bucket") - pb).cast("double") /
              (nb - pb).cast("double")))
          .when(pv.isNotNull, pv)
          .otherwise(nv)
          .as("value_interp"))
      .orderBy("event_type", "gt")
  }

  // ------------------------------------------------------------- fuzzy dedup

  /** Edit-distance near-dup pairs via blocking: candidates share a
    * 12-char prefix AND are within 20% length of each other, then the
    * exact `levenshtein` filter (distance ≤ 20% of the longer doc) keeps
    * true near-dups. The blocking keys turn an O(n²) all-pairs scan into
    * a prefix-equality hash join — the classic record-linkage shape; at
    * 100 TB the prefix key hash-partitions both sides and only same-block
    * pairs ever meet. Complements the token-level (`q_dedup_ngram`) and
    * signature-level (`q_dedup_near`/`simhash`) dedups with a
    * character-level edit metric.
    */
  def qDedupFuzzy(spark: SparkSession, sfDir: String): DataFrame =
    fuzzyCore(Tables.documents(spark, sfDir))

  private[queries] def fuzzyCore(docs: DataFrame): DataFrame = {
    val d = docs.select(col("doc_id"), col("text"), length(col("text")).as("n"))
    val a = d.select(
      col("doc_id").as("d1"),
      col("text").as("t1"),
      col("n").as("n1"),
      substring(col("text"), 1, 12).as("pfx"))
    val b = d.select(
      col("doc_id").as("d2"),
      col("text").as("t2"),
      col("n").as("n2"),
      substring(col("text"), 1, 12).as("pfx2"))
    // EditWithin = banded levenshtein with the 20% threshold folded in
    // (-1 beyond): built-in levenshtein ran the full O(n·m) codepoint
    // matrix twice per candidate (join-condition fold + projection) —
    // 23.8 s at sf0.1; the kernel's band+abort makes both evals cheap.
    a.join(
        b,
        col("pfx") === col("pfx2") && col("d1") < col("d2") &&
          abs(col("n1") - col("n2")) * 5 <= greatest(col("n1"), col("n2")))
      .select(col("d1"), col("d2"), graft.functions.EditWithin.of(col("t1"), col("t2")).as("dist"))
      .where(col("dist") >= 0)
      .orderBy("d1", "d2")
  }

  // ----------------------------------------------------------------- tf-idf

  /** Per-document top-3 TF-IDF terms — the classic keyword/topic signal.
    * Shape: (doc, tok) partial counts (map-side combined, tokens shuffle,
    * bodies don't) ⋈ document frequencies on the token key, × a 1-row
    * broadcast corpus count; scores rounded to 1e-9 BEFORE ranking so the
    * window order is identical across engines (ln() last-ulp noise).
    */
  def qTextTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = LlmOps.docTokens(Tables.documents(spark, sfDir))
    val tf = toks.groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
    // df from the aggregated pairs, not a countDistinct over raw tokens:
    // tf already holds one row per (doc, tok), so a plain count per tok
    // is the document frequency — no distinct-expansion shuffle
    val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val n = Tables.documents(spark, sfDir).agg(count(lit(1)).as("n_docs"))
    val w = Window.partitionBy("doc_id").orderBy(col("score").desc, col("tok").asc)
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .select(
        col("doc_id"),
        col("tok"),
        round(col("tf") * log(col("n_docs").cast("double") / col("df")), 9).as("score"))
      .withColumn("rk", row_number().over(w))
      .where(col("rk") <= 3)
      .select(col("doc_id"), col("rk"), col("tok"), col("score"))
      .orderBy("doc_id", "rk")
  }

  // ------------------------------------------------------------ Zipf slope

  /** Zipf rank-frequency fit over the token distribution: least-squares
    * slope/intercept/r² of ln(freq) against ln(rank) for the top-1000
    * head (the conventional fit range), plus the corpus totals. The
    * canonical corpus-health readout — natural text sits near slope −1;
    * a flat slope flags boilerplate/duplication, a cliff flags a
    * truncated vocabulary. Complements `q_text_langdist` (what
    * languages) and `q_topk_approx` (which tokens) with the
    * distribution-SHAPE summary.
    *
    * Exactness: ln takes only INTEGER arguments (rank 1..1000, integer
    * frequencies — the `q_text_unigram_nll` discipline), quantized per
    * term to 1e-6 micro LONGs; the five regression sums are exact
    * integers (|Σy²| ≤ 1000·(ln(2^63)·1e6)² ≈ 1.9e18 < 2^63 at ANY
    * corpus size), and the final slope arithmetic is the
    * `q_agg_linreg` double sequence both engines share.
    *
    * Scale shape: one token-count shuffle (the same agg every corpus
    * stat rides), a TakeOrdered top-1000 (never a global sort), and a
    * 1000-row local window — corpus-size-independent beyond the count.
    */
  def qTextZipf(spark: SparkSession, sfDir: String): DataFrame = {
    val head = 1000
    val counts = LlmOps
      .docTokens(Tables.documents(spark, sfDir))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("freq"))
    val tot = counts.agg(
      count(lit(1)).as("n_vocab"),
      sum(col("freq")).as("n_tokens"))
    val top = counts.orderBy(col("freq").desc, col("tok").asc).limit(head)
    val ranked = top.withColumn(
      "rank",
      row_number().over(Window.orderBy(col("freq").desc, col("tok").asc)))
    val xy = ranked.select(
      round(log(col("rank").cast("double")) * 1e6).cast("long").as("x"),
      round(log(col("freq").cast("double")) * 1e6).cast("long").as("y"))
    val s = xy.agg(
      count(lit(1)).as("n"),
      sum(col("x")).as("sxl"),
      sum(col("y")).as("syl"),
      sum(col("x") * col("y")).as("sxyl"),
      sum(col("x") * col("x")).as("sxxl"),
      sum(col("y") * col("y")).as("syyl"))
    val n = col("n").cast("double")
    val sx = col("sxl").cast("double")
    val sy = col("syl").cast("double")
    val sxy = col("sxyl").cast("double")
    val sxx = col("sxxl").cast("double")
    val syy = col("syyl").cast("double")
    val covn = n * sxy - sx * sy
    val varxn = n * sxx - sx * sx
    val varyn = n * syy - sy * sy
    val slope = covn / varxn
    s.crossJoin(broadcast(tot))
      .select(
        col("n").as("n_head"),
        col("n_vocab"),
        col("n_tokens"),
        // raw shared double sequence, NO final round: the inputs are
        // exact integers, so the IEEE result is bit-identical across
        // engines, while a final round(…, 9) can disagree on boundary
        // doubles (the q_text_unigram_nll ln-ulp lesson from round 8)
        slope.as("slope"),
        ((sy - slope * sx) / n / 1e6).as("intercept"),
        ((covn * covn) / (varxn * varyn)).as("r2"))
  }

  // ----------------------------------------------------------------- funnel

  /** Ordered-funnel analysis (view → click → purchase): per user, the
    * first time of each stage, then strict event-time ordering gates each
    * deeper stage. One partial-aggregating shuffle on user_id (the three
    * firsts are conditional `min`s), one global 1-row reduce. The
    * conversion-funnel shape every product-analytics engine ships.
    */
  def qEventsFunnel(spark: SparkSession, sfDir: String): DataFrame = {
    def firstOf(t: String) =
      min(when(col("event_type") === t, col("ts"))).as(s"t_$t")
    val f = Tables
      .events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(firstOf("view"), firstOf("click"), firstOf("purchase"))
    f.select(
        col("t_view").isNotNull.cast("int").as("s1"),
        (col("t_view").isNotNull && col("t_click") > col("t_view")).cast("int").as("s2"),
        (col("t_view").isNotNull && col("t_click") > col("t_view") &&
          col("t_purchase") > col("t_click")).cast("int").as("s3"))
      .agg(
        sum(col("s1")).as("n_view"),
        sum(col("s2")).as("n_view_click"),
        sum(col("s3")).as("n_full_funnel"),
        count(lit(1)).as("n_users"))
  }

  // ---------------------------------------------------------------- retention

  /** Daily cohort retention — the engagement matrix behind every growth
    * dashboard: users are cohorted by their first active day; cell
    * (cohort, day_offset) counts cohort members active that many days
    * later, next to the cohort's size. Shapes: active days collapse to
    * DISTINCT (user, day) first (one shuffle — day counts never inflate
    * the matrix), the per-user first day is a partial-aggregating
    * groupBy, and the user⋈cohort join hash-partitions on user_id (AQE
    * may broadcast the cohort side when small — both are correct at
    * 100 TB because each shuffle is keyed and combiner-friendly; no
    * window pass anywhere).
    */
  def qEventsRetention(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables
      .events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val first = days.groupBy("user_id").agg(min(col("d")).as("cohort"))
    val sizes = first.groupBy("cohort").agg(count(lit(1)).as("cohort_size"))
    days
      .join(first, "user_id")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .join(sizes, "cohort")
      .select("cohort", "day_offset", "n_active", "cohort_size")
      .orderBy("cohort", "day_offset")
  }

  /** Kaplan-Meier survival curve over user lifetimes — the
    * churn-analysis readout next to [[qEventsRetention]]'s cohort
    * matrix: each user's lifetime is the whole days between their
    * first and last event; day t reports the at-risk count n_t, the
    * churn count d_t, the discrete hazard d_t/n_t, and the KM survival
    * estimate S(t) = Π_{s≤t}(1 − d_s/n_s) in LOG domain. (All observed
    * lifetimes are treated as churn events — the fixture has no
    * censoring column; with one, censored users would leave the risk
    * set without a d_t contribution.)
    *
    * Cross-engine float discipline (the `q_stats_mutual_info` pattern):
    * ln(1 − d/n) = ln(n−d) − ln(n) takes only INTEGER arguments, each
    * micro-quantized to a LONG before the cumulative window sum, so the
    * log-survival is an exact integer sum and the emitted double is one
    * IEEE division; the hazard is one IEEE division of exact longs. No
    * exp() — consumers exponentiate at read time (the final week, where
    * the risk set churns to zero, reports NULL log-survival: S = 0 has
    * no finite log).
    *
    * Scale shape: corpus-scale work is the ONE user-keyed min/max agg;
    * the day fold and both windows run on the ≤ |days| aggregate frame
    * (dozens of rows — the single-partition window is on the model
    * frame, never on data).
    */
  def qEventsSurvival(spark: SparkSession, sfDir: String): DataFrame = {
    def lnq(c: Column): Column = round(log(c) * 1e6).cast("long")
    val churn = Tables
      .events(spark, sfDir)
      .groupBy("user_id")
      .agg(min(to_date(col("ts"))).as("first_d"), max(to_date(col("ts"))).as("last_d"))
      .select(datediff(col("last_d"), col("first_d")).as("day"))
      .groupBy("day")
      .agg(count(lit(1)).as("n_churn"))
      // ≤ |days| rows; materialize so the corpus-scale user-keyed agg
      // runs ONCE even though both `tot` and the main chain consume it
      // (mirrors qStatsChi2's cells checkpoint)
      .transform(Materialize.eager)
    val wPrev = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, -1)
    val wCum = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    val tot = churn.agg(sum("n_churn").as("n_total"))
    churn
      .crossJoin(broadcast(tot))
      .withColumn("n_risk", col("n_total") - coalesce(sum("n_churn").over(wPrev), lit(0L)))
      .withColumn(
        "ln_term",
        when(
          col("n_risk") > col("n_churn"),
          lnq(col("n_risk") - col("n_churn")) - lnq(col("n_risk"))))
      .withColumn(
        "log_surv",
        when(col("ln_term").isNotNull, sum("ln_term").over(wCum).cast("double") / 1e6))
      .select(
        col("day"),
        col("n_risk"),
        col("n_churn"),
        (col("n_churn").cast("double") / col("n_risk")).as("hazard"),
        col("log_surv"))
      .orderBy("day")
  }

  /** Cumulative cohort value (LTV curve): users cohorted by first-event
    * day, purchase value accumulated per (cohort, day offset) — the
    * money sibling of `q_events_retention`'s activity matrix, and the
    * curve a growth team reads unit economics from. Offsets with no
    * purchases are simply absent (the running total carries across the
    * gap; the oracle mirrors the sparse form).
    *
    * Scale shape: one DISTINCT-free user-keyed partial agg for cohorts,
    * one user-keyed join, one (cohort, offset) partial agg, then a
    * window PARTITIONED BY cohort over day offsets — cohort×offset cells
    * grow with time, not volume. Values are exact LONG cents end to end.
    */
  def qEventsCohortLtv(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables
      .events(spark, sfDir)
      .select(
        col("user_id"),
        to_date(col("ts")).as("d"),
        col("event_type"),
        col("value"))
    val cohort = ev.groupBy("user_id").agg(min(col("d")).as("cohort"))
    val daily = ev
      .where(col("event_type") === "purchase")
      .join(cohort, "user_id")
      .groupBy(col("cohort"), datediff(col("d"), col("cohort")).cast("long").as("day_offset"))
      .agg(sum(round(col("value") * 100).cast("long")).as("day_cents"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cohort")
      .orderBy("day_offset")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    daily
      .withColumn("cum_cents", sum("day_cents").over(w))
      .select(
        col("cohort"),
        col("day_offset"),
        (col("day_cents").cast("double") / 100).as("day_value"),
        (col("cum_cents").cast("double") / 100).as("ltv"))
      .orderBy("cohort", "day_offset")
  }

  /** EXACT re-aggregatable distinct counting via roaring-style bitmaps —
    * the exact sibling of `q_agg_hll_merge`'s sketch path, for when the
    * error bar must be zero and the id domain is dense enough: per
    * (event_type, day, 32Ki-bucket) a bitmap of seen user bits
    * (`bitmap_construct_agg`, ≤4 KiB per cell), daily bitmaps OR-merged
    * per (type, bucket), bit counts summed per type. Merge is exact for
    * any partitioning/date range — the precompute-daily / merge-any-range
    * metric-store pattern with NO estimate. State per cell is bounded by
    * the bucket width, not row count; the id→(bucket, bit) split keeps
    * sparse/huge domains from materializing one giant bitmap.
    */
  def qAggBitmapDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables
      .events(spark, sfDir)
      .groupBy(
        col("event_type"),
        to_date(col("ts")).as("d"),
        bitmap_bucket_number(col("user_id")).as("bucket"))
      .agg(bitmap_construct_agg(bitmap_bit_position(col("user_id"))).as("bm"))
    val users = daily
      .groupBy("event_type", "bucket")
      .agg(bitmap_count(bitmap_or_agg(col("bm"))).as("bucket_users"))
      .groupBy("event_type")
      .agg(sum("bucket_users").as("n_users"))
    val days = daily
      .select("event_type", "d")
      .distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
    users.join(days, "event_type").orderBy("event_type")
  }

  // ----------------------------------------------------------- HLL sketch merge

  /** Shared estimate fold of the replayable-register HLL entries:
    * groups a (…, m_rho) register frame by `keys` and appends the
    * Flajolet estimate — identical arithmetic to [[qAggHllReplayable]]
    * (integer 2^(53−M_j) sums, 1e-6-quantized ln in the linear-counting
    * branch), so every consumer inherits the proven oracle parity.
    */
  private def hllEstimate(regs: DataFrame, keys: Seq[String], alias: String): DataFrame = {
    val m = 256
    val agg = regs
      .groupBy(keys.map(col): _*)
      .agg(
        count(lit(1)).as("c"),
        sum(expr("shiftleft(1L, cast(53 - m_rho as int))")).as("s_present"))
    val two53 = 9007199254740992.0 // 2^53
    val alphaM2 = lit(0.7213 / (1.0 + 1.079 / m) * (m.toDouble * m) * two53)
    val s = (col("s_present") + (lit(m.toLong) - col("c")) * lit(two53.toLong)).cast("double")
    val v = lit(m.toLong) - col("c")
    val raw = alphaM2 / s
    val est = when(
      raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * round(log(lit(m.toDouble) / v.cast("double")), 6))
      .otherwise(raw)
    agg.select(keys.map(col) :+ round(est, 6).as(alias): _*)
  }

  /** Re-aggregatable distinct counting — the cube/rollup pattern behind
    * every "daily uniques, mergeable to any date range" metric store:
    * build one 256-register HLL cell per (event_type, day) (partial
    * agg; cell size is register-bounded regardless of row count), then
    * max-merge the daily registers per event_type and estimate. At
    * 100 TB the daily cells would be PRECOMPUTED once and every
    * downstream range query merges registers instead of rescanning raw
    * events — the two-level aggregation here exercises exactly that
    * merge path, and merge is LOSSLESS by construction (register max is
    * associative). r14 ask #3: built on the replayable house-hash
    * register construction ([[qAggHllReplayable]]'s algebra, day-keyed)
    * instead of the non-SQL-portable Datasketches builtin, so the
    * DuckDB oracle replays the daily cells, the merge, and the estimate
    * bit-for-bit — this entry is now full-oracle, not rows-only.
    * CorpusOpsSpec still pins merge ≡ direct and accuracy vs exact.
    */
  def qAggHllMerge(spark: SparkSession, sfDir: String): DataFrame = {
    // day-keyed cells from the ONE shared register construction
    // (r14 ADVICE: a hash/width change in Streams.hllRegisters must move
    // this entry too, not only the merged==direct spec pin)
    val daily = graft.streaming.Streams
      .hllRegisters(Tables.events(spark, sfDir), to_date(col("ts")).as("d"))
    val merged = daily.groupBy("event_type", "j").agg(max(col("m_rho")).as("m_rho"))
    val days = daily
      .select("event_type", "d")
      .distinct()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_days"))
    hllEstimate(merged, Seq("event_type"), "est_users")
      .join(days, "event_type")
      .orderBy("event_type")
  }

  /** The engine-portable HyperLogLog — the same register algebra as
    * `q_agg_hll_merge`'s Datasketches path, but built from first
    * principles on the house md5-hex60 hash so the ORACLE CAN REPLAY THE
    * SKETCH BIT-FOR-BIT (the builtin's estimates are rows-only because
    * its internal hash isn't SQL-portable; this entry closes that
    * verification gap for the HLL concept itself). Flajolet et al. 2007
    * construction, m = 256 registers: register j = h mod m, rho = one
    * plus leading zeros of the remaining 52-bit word (computed as
    * 53 − length(bin(w)) — pure integer/string ops, no float log),
    * estimate = α·m²/Σ2^−M_j with the small-range linear-counting
    * correction.
    *
    * Exactness discipline: 2^−M_j is summed as the INTEGER 2^(53−M_j)
    * (shiftleft — exact, order-independent; Σ ≤ m·2^53 < 2^63), so the
    * only float ops are the final division and one 1e-6-quantized `ln`
    * in the linear-counting branch. Per event_type the exact distinct
    * count rides along for the error readout. Scale: registers partial-
    * agg map-side ((type, j) keys, m-bounded), the exact count is the
    * one true shuffle — at 100 TB you'd drop the certification column
    * and ship the 256-register state, which is the point of HLL.
    */
  def qAggHllReplayable(spark: SparkSession, sfDir: String): DataFrame = {
    val m = 256
    val ev = Tables.events(spark, sfDir)
    // ONE register construction for batch and streaming: the sketch this
    // estimates from is graft.streaming.Streams.hllRegisters verbatim
    // (s_stream_hll's state) — a hash/width change there moves both
    // entries and both oracles together.
    val regs = graft.streaming.Streams
      .hllRegisters(ev)
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("c"),
        sum(expr("shiftleft(1L, cast(53 - m_rho as int))")).as("s_present"))
    val exact = ev.groupBy("event_type").agg(countDistinct("user_id").as("n_exact"))
    val two53 = 9007199254740992.0 // 2^53
    val alphaM2 = lit(0.7213 / (1.0 + 1.079 / m) * (m.toDouble * m) * two53)
    val s = (col("s_present") + (lit(m.toLong) - col("c")) * lit(two53.toLong)).cast("double")
    val v = lit(m.toLong) - col("c") // zero registers
    val raw = alphaM2 / s
    val est = when(
      raw <= lit(2.5 * m) && v > 0,
      lit(m.toDouble) * round(log(lit(m.toDouble) / v.cast("double")), 6))
      .otherwise(raw)
    regs
      .join(exact, "event_type")
      .select(
        col("event_type"),
        col("n_exact"),
        col("c").as("n_regs"),
        round(est, 6).as("hll_est"),
        round((round(est, 6) - col("n_exact")) / col("n_exact") * 100, 4).as("err_pct"))
      .orderBy("event_type")
  }

  /** Sketch ALGEBRA on the HLL family: audience-overlap estimation via
    * inclusion-exclusion, `|A∩B| ≈ |A| + |B| − |A∪B|`, entirely from the
    * per-segment sketches — the metric-store pattern for "how many users
    * did BOTH X and Y" when the raw id sets are too large to intersect
    * exactly (per-segment KB sketches vs per-segment TB id lists at
    * 100 TB). Register union (max per slot) is lossless, so the
    * estimate's error stays within the union sketch's bound; the
    * estimate-vs-exact gap is spec-pinned, and the identity
    * `|A∩B| + |A∪B| = |A| + |B|` holds exactly by construction. r14
    * ask #3: per-segment sketches are the SHARED
    * [[graft.streaming.Streams.hllRegisters]] state (house md5-hex60
    * hash), so the DuckDB oracle replays segment registers, the union,
    * and all four estimates bit-for-bit — full-oracle, not rows-only.
    */
  def qAggHllIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val regs = graft.streaming.Streams
      .hllRegisters(
        Tables
          .events(spark, sfDir)
          .where(col("event_type").isin("click", "purchase")))
      .transform(Materialize.eager) // read three times: two segment folds + union
    val seg = hllEstimate(regs, Seq("event_type"), "est")
    val union = hllEstimate(
      regs.groupBy("j").agg(max(col("m_rho")).as("m_rho")).withColumn("g", lit(1)),
      Seq("g"),
      "est_union").drop("g")
    seg
      .agg(
        max(when(col("event_type") === "click", col("est"))).as("est_click"),
        max(when(col("event_type") === "purchase", col("est"))).as("est_purchase"))
      .crossJoin(union)
      .select(
        col("est_click"),
        col("est_purchase"),
        col("est_union"),
        (col("est_click") + col("est_purchase") - col("est_union")).as("est_both"))
  }

  // ---------------------------------------------------------------- z-order

  /** One bit-spread stage of the 16→32-bit Morton interleave (insert a
    * zero between adjacent bits): the classic magic-mask sequence, as
    * codegen'd builtin column ops.
    */
  private def spread16(c: Column): Column = {
    val a = c.bitwiseOR(shiftleft(c, 8)).bitwiseAND(lit(0x00ff00ffL))
    val b = a.bitwiseOR(shiftleft(a, 4)).bitwiseAND(lit(0x0f0f0f0fL))
    val d = b.bitwiseOR(shiftleft(b, 2)).bitwiseAND(lit(0x33333333L))
    d.bitwiseOR(shiftleft(d, 1)).bitwiseAND(lit(0x55555555L))
  }

  /** Z-order (Morton-curve) clustering key over (customer, order date) —
    * the multi-dimensional data-layout primitive behind lakehouse
    * `OPTIMIZE ZORDER BY`: sorting by the interleaved key co-locates rows
    * that are close in BOTH dimensions, so per-file min/max stats prune
    * scans for predicates on either column (a 1-D sort only ever prunes
    * its own column). Normalization bounds come from one 1-row aggregate
    * broadcast (bounded model state, like the IVF centroids); the z-value
    * itself is pure integer bit math — exact `div`, no doubles — so the
    * DuckDB twin reproduces it bit-for-bit. LayoutSpec proves the
    * clustering property: z-sorted buckets have narrow min/max ranges on
    * both dimensions simultaneously.
    */
  /** Hilbert-curve clustering key over the same normalized 16-bit
    * (custkey, orderdate) plane as [[qLayoutZorder]] — the locality
    * upgrade modern lakehouse clustering uses: the Hilbert curve never
    * makes Z-order's long diagonal jumps, so contiguous key ranges
    * (files) stay tighter on BOTH dimensions (LayoutSpec measures both
    * keys on the identical file-span harness). The classic 16-round xy→d
    * walk runs in the [[graft.functions.HilbertKey]] kernel — one
    * codegen call per row (round 6; the previous 16 chained projection
    * stages measured ~3-4 s at sf0.1, the worst healthy bench entry).
    * The oracle still generates the equivalent 16 chained CTEs, and
    * LayoutSpec pins kernel ≡ staged bit-for-bit.
    */
  def qLayoutHilbert(spark: SparkSession, sfDir: String): DataFrame =
    hilbertNormalized(spark, sfDir)
      .select(
        col("o_orderkey"),
        graft.functions.HilbertKey.of(col("x"), col("y")).as("hval"))
      .orderBy("hval", "o_orderkey")

  /** Shared (o_orderkey, x, y) normalization onto the 16-bit plane —
    * bounds from one 1-row broadcast aggregate, exact integer `DIV`.
    */
  private[graft] def hilbertNormalized(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val bounds = o.agg(
      min(col("o_custkey")).as("ck0"),
      max(col("o_custkey")).as("ck1"),
      min(col("o_orderdate")).as("d0"),
      max(col("o_orderdate")).as("d1"))
    o.crossJoin(broadcast(bounds))
      .select(
        col("o_orderkey"),
        expr("CAST((o_custkey - ck0) * 65535 DIV (ck1 - ck0) AS BIGINT)").as("x"),
        expr("CAST(datediff(o_orderdate, d0) * 65535 DIV datediff(d1, d0) AS BIGINT)").as("y"))
  }

  /** The retired 16-stage dataframe walk, kept as the independent twin
    * LayoutSpec pins the kernel against (same per-round math; the oracle
    * CTE chain is generated from the same recurrence).
    */
  private[graft] def hilbertStaged(spark: SparkSession, sfDir: String): DataFrame = {
    var df = hilbertNormalized(spark, sfDir).withColumn("d", lit(0L))
    var s = 32768L
    while (s > 0) {
      val rx = when(col("x").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      val ry = when(col("y").bitwiseAND(lit(s)) > 0, lit(1L)).otherwise(lit(0L))
      df = df
        .withColumn("rx", rx)
        .withColumn("ry", ry)
        .withColumn(
          "d",
          col("d") + lit(s * s) * (lit(3L) * col("rx")).bitwiseXOR(col("ry")))
        .withColumn(
          "nx",
          when(
            col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("y")).otherwise(col("y")))
            .otherwise(col("x")))
        .withColumn(
          "ny",
          when(
            col("ry") === 0,
            when(col("rx") === 1, lit(s - 1) - col("x")).otherwise(col("x")))
            .otherwise(col("y")))
        .withColumn("x", col("nx"))
        .withColumn("y", col("ny"))
      s >>= 1
    }
    df.select(col("o_orderkey"), col("d").as("hval")).orderBy("hval", "o_orderkey")
  }

  /** The 16 unrolled Hilbert rounds as chained SQL CTEs — generated by
    * the same loop that builds the Spark stages, so the two cannot
    * drift.
    */
  private[queries] def hilbertOracleSql: String = {
    val stages = new StringBuilder
    var prev = "n"
    var s = 32768L
    var i = 0
    while (s > 0) {
      val rx = s"(CASE WHEN (x & $s) > 0 THEN 1 ELSE 0 END)"
      val ry = s"(CASE WHEN (y & $s) > 0 THEN 1 ELSE 0 END)"
      stages.append(
        s""",h$i AS (
           | SELECT o_orderkey,
           |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - y ELSE y END) ELSE x END AS x,
           |  CASE WHEN $ry = 0 THEN (CASE WHEN $rx = 1 THEN ${s - 1} - x ELSE x END) ELSE y END AS y,
           |  d + CAST(${s * s} AS BIGINT) * xor(3 * $rx, $ry) AS d
           | FROM $prev)""".stripMargin)
      prev = s"h$i"
      i += 1
      s >>= 1
    }
    s"""WITH b AS (
       | SELECT min(o_custkey) AS ck0, max(o_custkey) AS ck1,
       |        min(o_orderdate) AS d0, max(o_orderdate) AS d1
       | FROM orders),
       |n AS (
       | SELECT o_orderkey,
       |  ((o_custkey - ck0) * 65535) // (ck1 - ck0) AS x,
       |  (datediff('day', d0, o_orderdate) * 65535) // datediff('day', d0, d1) AS y,
       |  CAST(0 AS BIGINT) AS d
       | FROM orders, b)$stages
       |SELECT o_orderkey, CAST(d AS BIGINT) AS hval FROM $prev
       |ORDER BY hval, o_orderkey""".stripMargin
  }

  def qLayoutZorder(spark: SparkSession, sfDir: String): DataFrame = {
    val o = Tables
      .orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
    val bounds = o.agg(
      min(col("o_custkey")).as("ck0"),
      max(col("o_custkey")).as("ck1"),
      min(col("o_orderdate")).as("d0"),
      max(col("o_orderdate")).as("d1"))
    o.crossJoin(broadcast(bounds))
      .select(
        col("o_orderkey"),
        expr("CAST((o_custkey - ck0) * 65535 DIV (ck1 - ck0) AS BIGINT)").as("x"),
        expr("CAST(datediff(o_orderdate, d0) * 65535 DIV datediff(d1, d0) AS BIGINT)").as("y"))
      .select(
        col("o_orderkey"),
        (spread16(col("x")) * lit(2L) + spread16(col("y"))).as("zval"))
      .orderBy("zval", "o_orderkey")
  }

  // ------------------------------------------------------------- transitions

  /** Event-flow transition matrix (Markov first-order counts): for each
    * user's time-ordered event stream, count consecutive (from → to)
    * event-type pairs — the "behavior flow" / path-analysis primitive.
    * One hash-partition shuffle on user_id for the `lead` window, then a
    * tiny (type × type) partial-aggregating shuffle; ties broken by
    * event_id so both engines see the same ordering.
    */
  def qEventsTransitions(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("to_type", lead(col("event_type"), 1).over(w))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy("from_type", "to_type")
  }

  /** Daily growth accounting (the product-analytics lifecycle ledger):
    * every active (user, day) is classified NEW (first ever day),
    * RETAINED (last activity ≤ 7 days ago) or RESURRECTED (gap > 7
    * days), and a CHURN event is booked on `lapse_day + 8` for every
    * gap > 7 (one per lapse, incl. the final lapse when it is already
    * observable inside the data window). The four daily series are the
    * standard "where did growth come from" decomposition one level
    * above `q_events_retention`'s cohort curves — and they close:
    * activity on day d = new + retained + resurrected, and cumulative
    * churn never exceeds cumulative distinct users. Boundary
    * convention (deliberate, mirrored by oracle and spec): a gap of
    * EXACTLY 8 days books the churn on the same day the user
    * resurrects — that day's ledger counts the user in BOTH
    * n_churned and n_resurrected (the churn row closes the old
    * tenure, the resurrection opens a new one; the closure identity
    * above is unaffected because churn is not part of the activity
    * decomposition).
    *
    * Exactness: pure integer date arithmetic on the distinct
    * (user, day) frame — lag windows per user, one grouped count per
    * status, a dense day grid (single global span row, `sequence` +
    * `explode`) zero-filling quiet days. Scale shape: the distinct
    * (user, day) reduction is the only corpus-scale pass; the lag
    * window shuffles by user; the day grid is wall-time-sized.
    */
  def qEventsLifecycle(spark: SparkSession, sfDir: String): DataFrame = {
    val act = Tables
      .events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy(col("d"))
    val st = act
      .withColumn("prev", lag(col("d"), 1).over(w))
      .withColumn(
        "status",
        when(col("prev").isNull, "new")
          .when(datediff(col("d"), col("prev")) <= 7, "retained")
          .otherwise("resurrected"))
      .transform(Materialize.eager) // feeds the status counts AND the churn ledger
    val statusCnt = st
      .groupBy(col("d"), col("status"))
      .agg(count(lit(1)).as("n"))
    // churn events: day = lapse + 8 for every observed gap > 7, plus the
    // final lapse when lapse + 8 is still inside the observed window
    // span from the CHECKPOINTED st (same (user_id, d) rows as act) — the
    // old `act.agg` reference re-derived the events distinct a second
    // time (r16, guide §2.4)
    val span = Materialize.eager(st.agg(min(col("d")).as("d0"), max(col("d")).as("d1")))
    val midChurn = st
      .where(col("prev").isNotNull && datediff(col("d"), col("prev")) > 7)
      .select(date_add(col("prev"), 8).as("d"))
    val lastAct = st.groupBy(col("user_id")).agg(max(col("d")).as("last_d"))
    val tailChurn = lastAct
      .crossJoin(broadcast(span))
      .where(date_add(col("last_d"), 8) <= col("d1"))
      .select(date_add(col("last_d"), 8).as("d"))
    val churnCnt = midChurn
      .unionByName(tailChurn)
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_churned"))
    val grid = span
      .select(explode(sequence(col("d0"), col("d1"))).as("d"))
    def pick(s: String) =
      coalesce(sum(when(col("status") === s, col("n"))), lit(0L))
    val wide = statusCnt
      .groupBy(col("d").as("sd"))
      .agg(
        pick("new").as("n_new"),
        pick("retained").as("n_retained"),
        pick("resurrected").as("n_resurrected"))
    grid
      .join(wide, col("d") === col("sd"), "left")
      .join(churnCnt.withColumnRenamed("d", "cd"), col("d") === col("cd"), "left")
      .select(
        col("d"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"),
        coalesce(col("n_resurrected"), lit(0L)).as("n_resurrected"),
        coalesce(col("n_churned"), lit(0L)).as("n_churned"))
      .orderBy("d")
  }

  /** Longest same-type streak per (user, type) — the gaps-and-islands
    * readout ("how many consecutive errors did this user hit") that
    * powers engagement-streak and failure-burst analyses. The island
    * key is the classic double-row_number difference: within a user's
    * time-ordered stream, `rn_all − rn_type` is constant exactly along
    * a run of one type, so one grouped count per island and one max per
    * (user, type) finish it. Summarized per type: longest streak, the
    * user holding it (smallest id on ties), and how many users ever
    * reach a streak ≥ 3.
    *
    * Scale shape: ONE user-keyed shuffle computes both row_numbers in a
    * single WindowExec (same partition/order spec), then two
    * partial-aggregating shuffles over island rows (≤ events) and the
    * ≤|types| summary. Exact integers; event_id tiebreak pins the walk.
    */
  def qEventsStreaks(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val wt = Window
      .partitionBy("user_id", "event_type")
      .orderBy(col("ts").asc, col("event_id").asc)
    val islands = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("grp", row_number().over(w) - row_number().over(wt))
      .groupBy(col("user_id"), col("event_type"), col("grp"))
      .agg(count(lit(1)).as("len"))
    val perUser = islands
      .groupBy(col("user_id"), col("event_type"))
      .agg(max(col("len")).as("best"))
    perUser
      .withColumn("mb", max(col("best")).over(Window.partitionBy("event_type")))
      .groupBy(col("event_type"))
      .agg(
        max(col("best")).as("max_streak"),
        min(when(col("best") === col("mb"), col("user_id"))).as("holder"),
        sum(when(col("best") >= 3, 1L).otherwise(0L)).as("n_users_streak3"))
      .orderBy("event_type")
  }

  /** Stationary distribution of the first-order event-type Markov chain
    * — the long-run "where does user attention settle" readout on top of
    * [[qEventsTransitions]]' counts: 20 fixed power-iteration steps of
    * π ← πP from the uniform start, with dangling types (no outgoing
    * transition) given the standard self-loop.
    *
    * ALL-INTEGER fixed point: π lives in micro-units (10¹² grain) and
    * each step's term is the half-up integer division
    * `(2·πᵢ·n_ij + n_i) div (2·n_i)` on EXACT transition counts — no
    * float enters the recurrence at all, so the oracle (20 generated
    * CTE iterations of the identical integer formula — the q_embed_pca
    * unrolled-schedule pattern) matches bit-for-bit by construction.
    * Per-step rounding loss ≤ |types|/2 micro; the readout reports raw
    * micro mass plus the double projection.
    *
    * Scale shape: the ONLY corpus-scale work is the transition count
    * (one user-keyed window shuffle + a ≤|types|² agg); the chain
    * itself is a ≤36-cell MODEL frame iterated as bounded driver state
    * (the k-means-centroid precedent) — BigInt arithmetic, overflow-free
    * at any count scale.
    */
  def qEventsMarkov(spark: SparkSession, sfDir: String): DataFrame = {
    val iters = 20
    val grain = BigInt("1000000000000")
    // ONE collect for the whole model (r13 ask #2, was two): the
    // distinct-type list left-joined to the transition counts — a type
    // with no outgoing transition survives as a (type, null, null) row,
    // so both the vocabulary and the dangling set come from one action
    val model = Tables
      .events(spark, sfDir)
      .select(col("event_type").as("t"))
      .distinct()
      .join(
        qEventsTransitions(spark, sfDir),
        col("t") === col("from_type"),
        "left")
      .select(col("t"), col("to_type"), col("n"))
      .collect()
    val counts = model
      .filter(!_.isNullAt(1))
      .map(r => (r.getString(0), r.getString(1), BigInt(r.getLong(2))))
    val types = model.map(_.getString(0)).distinct.sorted
    val outSum = counts.groupBy(_._1).map { case (t, g) => t -> g.map(_._3).sum }
    // dangling types self-loop with weight 1
    val cells = counts ++ types.filterNot(outSum.contains).map(t => (t, t, BigInt(1)))
    val rowSum = cells.groupBy(_._1).map { case (t, g) => t -> g.map(_._3).sum }
    var pi: Map[String, BigInt] = types.map(_ -> grain / types.length).toMap
    for (_ <- 1 to iters) {
      val next = scala.collection.mutable.Map.empty[String, BigInt].withDefaultValue(BigInt(0))
      cells.foreach { case (from, to, n) =>
        val ni = rowSum(from)
        next(to) += (pi(from) * n * 2 + ni) / (ni * 2)
      }
      pi = types.map(t => t -> next(t)).toMap
    }
    import spark.implicits._
    types
      .map(t => (t, pi(t).toLong, pi(t).toLong.toDouble / 1e12))
      .toSeq
      .toDF("event_type", "stationary_micro", "stationary")
      .orderBy("event_type")
  }

  /** Frequent contiguous event sequences (length-3 paths) with distinct-
    * user support — the level-1 sequential-pattern-mining readout (the
    * GSP/PrefixSpan "which journeys recur across users" question) one
    * order up from [[qEventsTransitions]]'s first-order Markov counts:
    * occurrences counts every time ANY user walks the path, support
    * counts HOW MANY users ever walk it (the dedup that separates one
    * bot looping from a real behavioral pattern). Patterns below
    * support 2 are pruned — the monotone a-priori threshold.
    *
    * Scale shape: one user_id-keyed shuffle for the two `lead`s (a
    * single WindowExec computes both — same window spec), then a
    * partial-aggregating shuffle to the ≤|types|³ pattern frame whose
    * `count(DISTINCT user_id)` expands to the standard two-level
    * grouped distinct — all keyed, no driver state. Exact integers
    * throughout; ordering ties broken by event_id so both engines walk
    * identical per-user streams.
    */
  def qSeqMining(spark: SparkSession, sfDir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .groupBy(col("event_type").as("e1"), col("e2"), col("e3"))
      .agg(count(lit(1)).as("n_occ"), countDistinct(col("user_id")).as("n_users"))
      .where(col("n_users") >= 2)
      .orderBy(col("n_users").desc, col("n_occ").desc, col("e1"), col("e2"), col("e3"))
  }

  // ------------------------------------------------------------- DAU / WAU

  /** Exact rolling active users (DAU + trailing-7-day WAU per day) — the
    * metric a window frame CANNOT express (no `count(DISTINCT)` over a
    * running frame in any engine): a user active on day d contributes to
    * WAU on days d..d+6, so explode each distinct (user, day) into its 7
    * contribution days, de-dup (user, contribution day), and count. The
    * blowup is a bounded ×7 of the ALREADY-DISTINCT (user, day) pairs
    * (not of raw events), and every stage is a keyed partial-aggregating
    * shuffle. The approximate alternative at extreme scale is the
    * [[qAggHllMerge]] daily-sketch pattern (union 7 sketches per day);
    * this is its exact twin, and the grid stays inside observed days so
    * the output is driver-comparable.
    */
  def qEventsWau(spark: SparkSession, sfDir: String): DataFrame = {
    val days = Tables
      .events(spark, sfDir)
      .select(col("user_id"), to_date(col("ts")).as("d"))
      .distinct()
    val dau = days.groupBy(col("d")).agg(count(lit(1)).as("dau"))
    val wau = days
      .select(
        col("user_id"),
        explode(sequence(lit(0), lit(6))).as("off"),
        col("d"))
      .select(col("user_id"), date_add(col("d"), col("off")).as("d"))
      .distinct()
      .groupBy(col("d"))
      .agg(count(lit(1)).as("wau"))
    dau
      .join(wau, "d")
      .select("d", "dau", "wau")
      .orderBy("d")
  }

  // -------------------------------------------------------------- user erasure

  /** Right-to-be-forgotten sweep audit — the GDPR/CCPA compliance shape
    * every lakehouse needs: an erasure list (here the deterministic
    * `custkey % 97 = 0` cohort) is broadcast-semi-joined into every
    * table that carries the subject key, producing the per-table
    * delete-impact audit (row + distinct-subject counts) that precedes
    * the actual rewrite. The erasure list is the bounded side by
    * definition (it's a request queue), so each fact scan stays a broadcast
    * probe — no fact-side shuffle; the per-table aggregates are 1-row
    * reduces unioned at the end.
    */
  def qUserErasure(spark: SparkSession, sfDir: String): DataFrame = {
    val erase = Tables
      .customer(spark, sfDir)
      .where(pmod(col("c_custkey"), lit(97)) === 0)
      .select(col("c_custkey").as("k"))
    def audit(df: DataFrame, key: String, name: String): DataFrame =
      df.join(broadcast(erase), col(key) === col("k"), "left_semi")
        .agg(count(lit(1)).as("n_rows"), countDistinct(col(key)).as("n_users"))
        .select(lit(name).as("tbl"), col("n_rows"), col("n_users"))
    audit(Tables.customer(spark, sfDir), "c_custkey", "customer")
      .unionByName(audit(Tables.orders(spark, sfDir), "o_custkey", "orders"))
      .unionByName(audit(Tables.events(spark, sfDir), "user_id", "events"))
      .orderBy("tbl")
  }

  // ----------------------------------------------------------- k-anonymity

  /** k-anonymity audit — the third leg of the privacy battery beside
    * `q_text_pii` (content scrubbing) and `q_user_erasure` (deletion):
    * for a quasi-identifier tuple (here (lang, source) on documents),
    * find equivalence classes smaller than k=5 — the groups whose
    * members a release would re-identify. One partial-aggregating
    * shuffle on the QI tuple; the output is the risk report (violating
    * classes + their sizes) a release gate consumes.
    */
  def qPrivacyKanon(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .documents(spark, sfDir)
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("class_size"))
      .where(col("class_size") < 5)
      .orderBy("lang", "source")

  /** Laplace-mechanism noised counts per nation (ε = 0.5, sensitivity 1)
    * — the differential-privacy release shape next to the k-anon /
    * l-diversity / t-closeness suppression family: noised = count +
    * Lap(1/ε) via the inverse CDF, noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|).
    *
    * The draw is DETERMINISTIC (a 40-bit md5 of the release cell's key)
    * so the two-engine verification can replay it; a production DP
    * release MUST swap in fresh physical randomness per release — the
    * mechanism, sensitivity accounting, and exact-arithmetic plumbing
    * are the real artifact here (the multimodal-stub precedent), and
    * `n_true` is emitted only for the verification readout (a real
    * release publishes `noised` alone).
    *
    * Exactness: with h ∈ [0, 2^40) integer, 1−2|u−½| = m/2^40 where
    * m = 2^40 − 2|h − 2^39| is an INTEGER, so ln(m/2^40) = ln(m) −
    * ln(2^40) takes an integer argument against the pinned
    * [[graft.queries.LlmOps]] A-ES cap constant (27725887 micro-nats =
    * round(1e6·40·ln 2)); ε = ½ doubles the integer noise; the noised
    * value is one IEEE division of exact longs. m = 0 (h = 0, the
    * infinite-tail inverse-CDF edge, p = 2⁻⁴⁰) clamps to 1. Scale
    * shape: one count agg + per-row arithmetic on the |nations| frame.
    */
  def qPrivacyDpCount(spark: SparkSession, sfDir: String): DataFrame = {
    val nat = Tables.nation(spark, sfDir).select(col("n_nationkey"), col("n_name"))
    val h = conv(substring(md5(col("n_name").cast("binary")), 1, 10), 16, 10).cast("long")
    val m = greatest(lit(1L), lit(1L << 40) - lit(2L) * abs(h - lit(1L << 39)))
    val sgn = when(h >= lit(1L << 39), lit(1L)).otherwise(lit(-1L))
    val noiseMicro = sgn * lit(2L) * (lit(27725887L) - round(log(m) * 1e6).cast("long"))
    Tables
      .customer(spark, sfDir)
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_true"))
      .select(
        col("n_name"),
        col("n_true"),
        ((col("n_true") * lit(1000000L) + noiseMicro).cast("double") / 1e6).as("noised"))
      .orderBy("n_name")
  }

  // ------------------------------------------------------------- CDC latest

  /** CDC latest-wins compaction (the MERGE/upsert read shape): a change
    * log (events) collapses to one current row per key via
    * `max_by(payload, version)` with a total (ts, event_id) version
    * order — one partial-aggregating shuffle, no window sort, no join.
    * This is the materialization half of [[qEventsScd2]] (which keeps
    * history; this keeps the head) and the standard way a 100 TB CDC
    * mirror table is read before compaction lands.
    */
  def qEventsCdcLatest(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .events(spark, sfDir)
      .groupBy(col("user_id"))
      .agg(
        max_by(
          struct(col("ts"), col("event_id"), col("event_type"), col("value")),
          struct(col("ts"), col("event_id"))).as("cur"),
        count(lit(1)).as("n_changes"))
      .select(
        col("user_id"),
        col("cur.ts").as("ts"),
        col("cur.event_id").as("event_id"),
        col("cur.event_type").as("event_type"),
        col("cur.value").as("value"),
        col("n_changes"))
      .orderBy("user_id")

  // ------------------------------------------------------------ table checksum

  /** Bucketed table checksum — the reconciliation primitive behind
    * `tile_delta_sync` and any cross-store "did the copy land?" audit:
    * per key-bucket, a row count and an order-independent digest sum.
    * Row digest = first 60 bits of md5 over a '|'-joined projection
    * (key/string/int columns only — float formatting is not
    * engine-portable), reduced mod 1e9+7 so bucket sums can't overflow
    * at any row count. Embarrassingly parallel partial aggregation;
    * comparing two tables = comparing 32 (bucket, n, checksum) rows.
    */
  def qTableChecksum(spark: SparkSession, sfDir: String): DataFrame =
    checksumCore(
      Tables.orders(spark, sfDir),
      col("o_orderkey"),
      Seq(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"), col("o_orderpriority")))

  private[queries] def checksumCore(
      t: DataFrame,
      key: org.apache.spark.sql.Column,
      cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    t.select(
        pmod(key, lit(32)).as("bucket"),
        (Tables.hash60(concat_ws("|", cols: _*)) % 1000000007L).as("dig"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), sum(col("dig")).as("checksum"))
      .orderBy("bucket")

  /** JSONL round-trip integrity: write the documents table as
    * newline-delimited JSON (the interchange format every corpus
    * pipeline ingests from), read it back with the explicit schema (no
    * inference job), and emit the SAME bucketed content checksum as
    * [[qTableChecksum]] over the re-read rows. The oracle computes that
    * checksum from the ORIGINAL parquet — equality proves the
    * write→escape→parse cycle is lossless for every row (unicode text,
    * embedded quotes/newlines, negative-free bigints) — the check a
    * format migration runs before trusting an exported corpus.
    *
    * Scale shape: a partitioned distributed write + a parallel scan —
    * no collect, no coalesce(1); the checksum is the one 32-bucket
    * partial agg. The export lands in a per-run temp directory removed
    * on JVM exit (the frame reads it lazily, so removal cannot precede
    * the action).
    */
  /** One export dir per source sfDir, reused (mode=overwrite) across
    * re-invocations — bench's min-of-2 and the scale probes re-run the
    * query in one JVM, and a fresh dir per call would pile complete
    * JSONL copies of the corpus in /tmp until exit. Caveat: each call
    * RETURNS A FRESH frame resolved against the refreshed dir, and
    * mode(overwrite) replaces the old UUID-named part files — a frame
    * returned by an EARLIER call for the same sfDir whose file index
    * already listed the old files would throw FileNotFoundException on
    * a later action, so callers must not retain frames across
    * re-invocations (bench/probe re-runs call the entry afresh, which
    * is the supported pattern). ONE shutdown hook (registered lazily
    * with the first entry) drains the map at JVM exit.
    */
  private val ioExportDirs =
    new java.util.concurrent.ConcurrentHashMap[String, java.nio.file.Path]
  private lazy val ioCleanupHook: Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(): Unit
      }
      ioExportDirs.values.forEach(p => rm(p.toFile))
    }))

  private def ioExportDir(tag: String, sfDir: String): String = {
    ioCleanupHook
    ioExportDirs
      .computeIfAbsent(
        s"$tag:$sfDir",
        _ => java.nio.file.Files.createTempDirectory(s"graft_${tag}_rt_"))
      .toString
  }

  def qIoJsonlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = ioExportDir("jsonl", sfDir)
    docs.write.mode("overwrite").json(dir)
    val back = spark.read.schema(docs.schema).json(dir)
    checksumCore(
      back,
      col("doc_id"),
      Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  /** CSV round-trip integrity (r12 — the CSV sibling of
    * [[qIoJsonlRoundtrip]], closing the last test-only source format):
    * write the documents table as RFC-4180-style CSV (quote-doubling via
    * `escape = "` — the dialect every spreadsheet/warehouse importer
    * reads), read it back with the explicit schema and `multiLine` (a
    * quoted text field may legally carry newlines), and emit the same
    * bucketed content checksum the oracle computes from the ORIGINAL
    * parquet — equality proves the quote/escape/parse cycle is lossless
    * for every row. Same scale shape as the JSONL twin: distributed
    * write + parallel scan + one 32-bucket partial agg; per-sfDir export
    * dir reused across re-invocations, removed at JVM exit. The
    * PERMISSIVE corrupt-record path of the same reader is pinned in
    * SourcesSpec.
    */
  /** ORC round-trip integrity (r12): the typed-columnar sibling of the
    * CSV/JSONL twins — documents written as ORC (zlib default), read
    * back with the explicit schema, same bucketed digest vs the
    * original parquet. Completes the oracle-checked coverage of every
    * batch file format this engine reads/writes (parquet is every
    * query's scan; JSONL/CSV/ORC each have a round-trip entry); the
    * filter-pushdown behavior of the same reader is pinned in
    * SourcesSpec. Scale shape identical to the twins.
    */
  def qIoOrcRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = ioExportDir("orc", sfDir)
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(docs.schema).orc(dir)
    checksumCore(
      back,
      col("doc_id"),
      Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  def qIoCsvRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = ioExportDir("csv", sfDir)
    docs.write
      .mode("overwrite")
      .option("header", "true")
      .option("escape", "\"")
      .csv(dir)
    val back = spark.read
      .schema(docs.schema)
      .option("header", "true")
      .option("escape", "\"")
      .option("multiLine", "true")
      .csv(dir)
    checksumCore(
      back,
      col("doc_id"),
      Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  /** XML round-trip integrity (r12 — the markup sibling, covering the
    * fourth and last text/columnar format Spark 4 ships a native reader
    * AND writer for): write the documents table as XML (`rowTag = doc`,
    * entity-escaping `<`/`&`/quotes is the writer's job), read it back
    * with the explicit schema, `ignoreSurroundingSpaces = false` (the
    * reader default TRIMS leading/trailing value whitespace — a silent
    * corruption for whitespace-significant corpora, so the registry
    * dialect disables it), and emit the same bucketed digest the oracle
    * computes from the ORIGINAL parquet. Same scale shape as the
    * JSONL/CSV/ORC twins: distributed write + parallel scan + one
    * 32-bucket partial agg; per-sfDir export dir reused across
    * re-invocations, removed at JVM exit. The entity-escaping
    * hard-content path (`<tag>`, `&amp;`, newlines, edge whitespace) is
    * pinned in SourcesSpec.
    */
  def qIoXmlRoundtrip(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = ioExportDir("xml", sfDir)
    docs.write
      .mode("overwrite")
      .option("rootTag", "docs")
      .option("rowTag", "doc")
      .xml(dir)
    val back = spark.read
      .schema(docs.schema)
      .option("rowTag", "doc")
      .option("ignoreSurroundingSpaces", "false")
      .xml(dir)
    checksumCore(
      back,
      col("doc_id"),
      Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  /** Partitioned-layout write + partition-pruned read-back (r12): write
    * the documents table hive-partitioned by `lang` (`lang=en/…`
    * directories — THE layout decision that turns a 100 TB corpus scan
    * into a per-language scan), read it back filtered to two languages,
    * and emit the bucketed digest; the oracle computes the same digest
    * from the ORIGINAL parquet under the same predicate. Equality proves
    * (a) the partition column round-trips through directory names and
    * (b) the filtered read misses nothing. The SCALE property — that the
    * filter prunes at the DIRECTORY level, so non-matching partitions
    * are never opened (listing-time pruning, not row-level filtering) —
    * is pinned in SourcesSpec via `inputFiles`: every file the filtered
    * scan touches lives under a matching `lang=` directory.
    *
    * Scale shape: the write is one shuffle-free partitioned export
    * (append-only directory fan-out); the read is a pruned parallel scan
    * + one 32-bucket partial agg. At 1000 executors the pruning is the
    * whole point: a two-of-five-language query reads ~2/5 of the bytes
    * and the other 3/5 are never listed past the top level.
    */
  def qIoPartitionedPrune(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val dir = ioExportDir("part", sfDir)
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val back = spark.read
      .schema(docs.schema)
      .parquet(dir)
      .where(col("lang").isin("en", "zh"))
    checksumCore(
      back,
      col("doc_id"),
      Seq(col("doc_id"), col("text"), col("lang"), col("source"), col("n_chars")))
  }

  // -------------------------------------------------- unigram LM quality score

  /** Model-based quality scoring: Laplace-smoothed unigram
    * negative-log-likelihood per document, with the model trained on the
    * train split — the simplest form of the "score every document under
    * a reference LM" filter that pipelines run at corpus scale. Shape:
    * train counts are one token-keyed partial agg; (N, V) is a 1-row
    * broadcast; scoring is a token-keyed join + per-doc partial agg —
    * document bodies never shuffle. Each log-prob is quantized to
    * 1e-6 fixed point BEFORE the per-doc sum, so token order and
    * partitioning cannot perturb the score (FP log sums are
    * order-sensitive; quantized longs are not).
    */
  def qTextUnigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sp = docs.select(col("doc_id"), LlmOps.splitCol.as("split"))
    val toks = LlmOps.docTokens(docs)
    val counts = toks
      .join(sp, "doc_id")
      .where(col("split") === "train")
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      // materialize the train-side corpus agg ONCE (r16, guide §2.4): the
      // model table is referenced by the (N, V) totals AND the per-token
      // log-prob projection — each uncheckpointed reference re-ran the
      // token explode + split join + count shuffle. |train vocab| rows.
      .transform(Materialize.eager)
    val nv = counts.agg(sum(col("cnt")).as("n"), count(lit(1)).as("v"))
    // Per-TERM micro quantization with INTEGER-only ln arguments and NO
    // final round — the q_text_bigram_nll discipline (r8), applied here
    // after the organic ×20 certification caught 18/100k docs one grid
    // unit off in the ratio formulation (libm-vs-Math.log last-ulp at
    // the 1e-6 boundary). lp = round6(ln(cnt+1)) − round6(ln(n+V)): the
    // numerator term lives on the MODEL table (per distinct token), the
    // denominator is ONE corpus constant, and the final nll is raw IEEE
    // division of exact integers — bit-identical across engines.
    def lpMicro(c: Column) = round(log(c.cast("double")) * 1e6, 0).cast("long")
    val cntL = counts.select(col("tok"), lpMicro(col("cnt") + lit(1L)).as("lp_num"))
    val denL = nv.select(lpMicro(col("n") + col("v")).as("lp_den"))
    val scored = toks
      .join(cntL, Seq("tok"), "left")
      .crossJoin(broadcast(denL))
      .select(
        col("doc_id"),
        (coalesce(col("lp_num"), lit(0L)) - col("lp_den")).as("lp_micro"))
    scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_toks"), sum(col("lp_micro")).as("lp_sum"))
      .join(sp, "doc_id")
      .select(
        col("doc_id"),
        col("split"),
        col("n_toks"),
        (-(col("lp_sum").cast("double") / 1e6) / col("n_toks")).as("nll"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020 shape): rank
    * every document by its `q_text_unigram_nll` LM score and split the
    * corpus into head / middle / tail terciles — the standard curation
    * move (keep head, inspect middle, drop-or-downweight tail). Built ON
    * the unigram query (one definition of the score; a smoothing change
    * there moves this bucketing with it). Output is the per-bucket
    * rollup: doc count, nll range, fixed-point mean.
    *
    * Bucketing is `ntile(3)` over the (nll, doc_id) total order — an
    * exact global rank, computed by [[graft.operators.PrefixScan]] with
    * no group, so no task ever sorts the whole corpus. (nll, doc_id) is
    * a strict total order, so the buckets equal the single-window
    * `ntile(3)` of the oracle, bucket for bucket. Mean NLL sums the
    * 1e-6-quantized scores as LONGs (partition-order-proof, house float
    * discipline).
    */
  def qTextPplBuckets(spark: SparkSession, sfDir: String): DataFrame = {
    val scored = qTextUnigramNll(spark, sfDir).select(col("doc_id"), col("nll"))
    val ranked = PrefixScan(scored, Nil, Seq(col("nll"), col("doc_id")))
    // ntile(3) from (rank, n): with n = 3q + r, buckets 1..r take q+1
    // rows and buckets r+1..3 take q rows. Spark `/` is double division,
    // so every quotient is floored back to long explicitly (all operands
    // are non-negative counts, well inside double's exact-integer range)
    def idiv(a: Column, b: Column): Column = (a / b).cast("long")
    val r = col("n") % 3
    val q = idiv(col("n") - r, lit(3))
    val cut = (q + 1) * r
    val rn = col("rank")
    val bucket = when(rn <= cut, idiv(rn - 1, q + 1) + 1)
      .otherwise(r + idiv(rn - cut - 1, q) + 1)
    ranked
      .select(col("nll"), bucket.cast("int").as("b"))
      .groupBy(col("b"))
      .agg(
        count(lit(1)).as("n_docs"),
        min(col("nll")).as("min_nll"),
        max(col("nll")).as("max_nll"),
        sum(round(col("nll") * 1e6).cast("long")).as("s_fp"))
      .select(
        when(col("b") === 1, "head").when(col("b") === 2, "middle").otherwise("tail")
          .as("bucket"),
        col("n_docs"),
        col("min_nll"),
        col("max_nll"),
        round(col("s_fp").cast("double") / col("n_docs") / 1e6, 6).as("mean_nll"))
      .orderBy("bucket")
  }

  /** Bigram-LM quality score — the conditional-probability upgrade of
    * [[qTextUnigramNll]]: per-doc mean negative log-likelihood of each
    * token given its predecessor, under add-1 smoothing
    * `p(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)` with counts from the train
    * split. Bigrams come straight from the
    * [[graft.functions.TokenWindows]] kernel (k = 2, one codegen pass per
    * doc, no HOFs); the three model joins are all token/bigram-keyed
    * shuffles of counts — at 100 TB the bigram key would shuffle as its
    * xxhash64 like `q_dedup_substring` (strings kept here for the oracle
    * twin). Log-probs quantize to 1e-6 fixed point before the per-doc sum
    * (order/partitioning-proof, same as the unigram).
    */
  def qTextBigramNll(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = Tables.documents(spark, sfDir)
    val sp = docs.select(col("doc_id"), LlmOps.splitCol.as("split"))
    val bi = docs
      .select(
        col("doc_id"),
        explode(graft.functions.TokenWindows.of(col("text"), 2)).as("bg"))
      .withColumn("w1", substring_index(col("bg"), " ", 1))
    val toks = LlmOps.docTokens(docs)
    val cbg = bi
      .join(sp, "doc_id")
      .where(col("split") === "train")
      .groupBy(col("bg"))
      .agg(count(lit(1)).as("cbg"))
    val uni = toks
      .join(sp, "doc_id")
      .where(col("split") === "train")
      .groupBy(col("tok").as("w1"))
      .agg(count(lit(1)).as("c1"))
      // materialize the unigram model ONCE (r16, guide §2.4): uni is
      // referenced by the vocab total (itself read twice — uniL and the
      // unseen-w1 constant) and the denominator projection — three
      // re-derivations of the train-side token agg without this.
      .transform(Materialize.eager)
    val vocab = uni.agg(count(lit(1)).as("v"))
    // Per-TERM micro quantization (r8, closes the r7 ×10 ln-ulp boundary):
    // lp = round6(ln(cbg+1)) − round6(ln(c1+V)), so ln only ever takes
    // INTEGER arguments. Java's Math.log and DuckDB's libm ln differ in
    // the last ulp, and rounding ln(num/den) onto the 1e-6 grid put 30 of
    // 50k ×10 docs one grid unit apart — each doc sums ~200 distinct
    // rational ratios, any of which can straddle a .5-micro boundary.
    // With integer-only arguments the boundary surface shrinks to the few
    // thousand DISTINCT counts in the model (P[any ln(k)·1e6 within an
    // ulp of .5] ≈ 1e-8 per distinct k), and the per-term difference from
    // the ratio formulation is ≤ 1 micro — the oracle carries the same
    // two-term form, so the quantized semantics stay exactly twinned.
    //
    // The ln+round terms live on the MODEL tables (per distinct bigram /
    // unigram), not the token stream: the stream join carries only
    // precomputed micro LONGs, so the per-row hot path is two long adds —
    // and at 100 TB the transcendental work stays |model|-sized.
    def lpMicro(c: Column) = round(log(c.cast("double")) * 1e6, 0).cast("long")
    val cbgL = cbg.select(col("bg"), lpMicro(col("cbg") + lit(1L)).as("lp_num"))
    val uniL = uni
      .crossJoin(broadcast(vocab))
      .select(col("w1"), lpMicro(col("c1") + col("v")).as("lp_den"))
    // unseen-w1 denominator ln(0 + V), a 1-row constant
    val vlp = vocab.select(lpMicro(col("v")).as("vlp"))
    val scored = bi
      .join(cbgL, Seq("bg"), "left")
      .join(uniL, Seq("w1"), "left")
      .crossJoin(broadcast(vlp))
      .select(
        col("doc_id"),
        (coalesce(col("lp_num"), lit(0L)) - coalesce(col("lp_den"), col("vlp")))
          .as("lp_micro"))
    scored
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("lp_micro")).as("lp_sum"))
      .join(sp, "doc_id")
      .select(
        col("doc_id"),
        col("split"),
        col("n_bigrams"),
        // NO final round (r8): lp_sum and n_bigrams are exact integers in
        // both engines, so cast + two IEEE divisions give bit-identical
        // doubles — while round(x, 6) on the quotient can land EXACTLY on
        // a .5 grid tie (lp_sum/1e7 with n_bigrams = 10 is a 7-decimal
        // rational), where Spark's BigDecimal HALF_UP of the binary
        // double and DuckDB's round() resolve differently (observed:
        // 1 doc at sf0.1 after the per-term requantization).
        (-(col("lp_sum").cast("double") / 1e6) / col("n_bigrams")).as("nll"))
      .orderBy("doc_id")
  }

  /** Collocation mining: top-50 adjacent token pairs by pointwise mutual
    * information (PMI) with a min-support floor — the classic "which
    * word pairs belong together" extractor (Church & Hanks shape) a
    * phrase-aware tokenizer or index builder runs over a corpus; the
    * support floor (c_ab ≥ 5) is the standard guard against PMI's
    * rare-pair bias.
    *
    * Exactness: PMI decomposes into a SUM OF LOGS OF EXACT INTEGERS —
    * `ln c_ab − ln N_bg − ln c_a − ln c_b + 2·ln N_uni` — so every `ln`
    * takes an integer argument and is micro-quantized
    * (`round(ln·1e6)` — the q_text_zipf pattern, covered by the ln ulp
    * guard); the score is one exact long sum surfaced as a double. No
    * float ratios anywhere.
    *
    * Scale shape: bigram and unigram counting are the two corpus-scale
    * partial-agg shuffles (the bigram explode rides the shared
    * TokenWindows kernel); scoring joins the COUNT frames (bigram-vocab
    * sized, token-keyed hash joins — never the token stream) with the
    * two 1-row totals broadcast; the top-50 is a TakeOrdered k-merge,
    * no global sort.
    */
  def qTextCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    def lnMicro(c: Column) = round(log(c.cast("double")) * 1e6).cast("long")
    val docs = Tables.documents(spark, sfDir)
    val cbg = docs
      .select(explode(graft.functions.TokenWindows.of(col("text"), 2)).as("bg"))
      .select(
        substring_index(col("bg"), " ", 1).as("w1"),
        substring_index(col("bg"), " ", -1).as("w2"))
      .groupBy("w1", "w2")
      .agg(count(lit(1)).as("c_ab"))
    val uni = LlmOps
      .docTokens(docs)
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("c"))
    val totB = cbg.agg(sum(col("c_ab")).as("nb"))
    val totU = uni.agg(sum(col("c")).as("nu"))
    cbg
      .where(col("c_ab") >= 5)
      .join(uni.select(col("tok").as("w1"), col("c").as("c_a")), "w1")
      .join(uni.select(col("tok").as("w2"), col("c").as("c_b")), "w2")
      .crossJoin(broadcast(totB))
      .crossJoin(broadcast(totU))
      .select(
        col("w1"),
        col("w2"),
        col("c_ab"),
        col("c_a"),
        col("c_b"),
        ((lnMicro(col("c_ab")) - lnMicro(col("nb")) - lnMicro(col("c_a")) -
          lnMicro(col("c_b")) + lit(2L) * lnMicro(col("nu"))).cast("double") / 1e6)
          .as("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(50)
  }

  // -------------------------------------------------------- approximate top-k

  /** Heavy hitters via the Space-Saving sketch: top-20 corpus tokens from
    * a bounded-memory aggregator — the scale path beside the exact
    * `q_text_wordcount` shuffle-agg. Each partition folds its tokens into
    * one ≤256-counter sketch; only sketches cross the shuffle (one final
    * merge), never raw token counts. On this corpus capacity (256) ≥
    * vocabulary (31), so the sketch is provably exact and the DuckDB
    * exact-count oracle applies; the approximate regime's overestimate
    * guarantee is pinned in SpaceSavingSpec with capacity 4.
    */
  def qTopkApprox(spark: SparkSession, sfDir: String): DataFrame =
    // ONE sketch construction shared with the streaming surface
    // (Streams.topkTokens / s_stream_topk) — the r7 s_stream_hll
    // precedent: the streaming state and the batch sketch cannot drift.
    graft.streaming.Streams
      .topkTokens(Tables.documents(spark, sfDir))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(20)

  /** Skew-safe join as a first-class query: the events fact side joins
    * the customer dimension through [[graft.operators.SaltedJoin]] —
    * every (key, salt) pair is its own shuffle partition, so one hot
    * user can no longer pin a single task (SkewSpec proves the exchange
    * is keyed on (key, salt) and the result is identical to the plain
    * join; this entry makes that identity oracle-checked end-to-end).
    * The build side replicates `buckets`× (8 here) — the classic
    * salting trade — and the aggregate after the join keeps the output
    * small and engine-comparable.
    */
  def qJoinSalted(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.dsum
    val ev = Tables.events(spark, sfDir).select(col("event_id"), col("user_id"), col("value"))
    val cust = Tables
      .customer(spark, sfDir)
      .select(col("c_custkey"), col("c_mktsegment"))
    graft.operators.SaltedJoin
      .inner(ev, col("user_id"), col("event_id"), cust, col("c_custkey"), buckets = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  // --------------------------------------------------------- quantile sketch

  /** Mergeable quantiles per group via the
    * [[graft.functions.LogHistQuantile]] log-histogram sketch (DDSketch
    * idea): p50/p95/p99 of extended price per return flag. Like the HLL
    * entry, the point is the METRIC-STORE shape — per-partition sketches
    * (bounded by dynamic range, not rows) merge exactly under any
    * partial-agg tree, so precomputed per-day sketches can answer any
    * date-range quantile without touching raw values. Approximate vs the
    * exact percentile (≤ ~1% relative error by construction) but fully
    * DETERMINISTIC — the sketch state is a pure function of the value
    * multiset — so the DuckDB oracle replays the whole log-histogram and
    * hash-matches it; QuantileSketchSpec additionally pins merge ≡ direct
    * and the error bound vs the exact percentile.
    */
  def qAggQuantileSketch(spark: SparkSession, sfDir: String): DataFrame = {
    val qsk = udaf(new graft.functions.LogHistQuantile(Seq(0.5, 0.95, 0.99)))
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"))
      .agg(qsk(col("l_extendedprice")).as("qv"))
      .select(
        col("l_returnflag"),
        round(element_at(col("qv"), 1), 4).as("p50"),
        round(element_at(col("qv"), 2), 4).as("p95"),
        round(element_at(col("qv"), 3), 4).as("p99"))
      .orderBy("l_returnflag")
  }

  // ------------------------------------------------------- data-quality gates

  /** Declarative data-quality expectation report (the Great
    * Expectations / Delta-constraints shape every ingest gate needs):
    * null-rate, value-range, domain-membership, key-uniqueness and
    * cross-column-consistency checks over events and documents. Scale
    * shape: ALL of a table's expectations evaluate as conditional
    * aggregates in ONE scan (never one scan per rule — at 100 TB a
    * 20-rule suite must not cost 20 passes); uniqueness rides the same
    * aggregate as a countDistinct; the report is rules × 1 rows,
    * unpivoted with `stack`.
    */
  def qDqExpectations(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = Tables
      .events(spark, sfDir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("ts").isNull, 1L).otherwise(0L)).as("v_ts_null"),
        sum(when(col("value").isNull || col("value") < 0.0, 1L).otherwise(0L)).as("v_value_neg"),
        sum(
          when(!col("event_type").isin("view", "click", "purchase", "signup", "error"), 1L)
            .otherwise(0L)).as("v_bad_type"),
        (count(lit(1)) - countDistinct(col("event_id"))).as("v_dup_id"))
      .select(
        expr("""stack(4,
          'events', 'ts_not_null', v_ts_null, n,
          'events', 'value_non_negative', v_value_neg, n,
          'events', 'event_type_in_domain', v_bad_type, n,
          'events', 'event_id_unique', v_dup_id, n) AS (tbl, expectation, n_violations, n_rows)"""))
    val docs = Tables
      .documents(spark, sfDir)
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("text").isNull || length(col("text")) === 0, 1L).otherwise(0L))
          .as("v_empty_text"),
        sum(when(!col("lang").isin("en", "de", "fr", "es", "zh"), 1L).otherwise(0L))
          .as("v_bad_lang"),
        sum(when(col("n_chars") =!= length(col("text")), 1L).otherwise(0L)).as("v_len_drift"),
        (count(lit(1)) - countDistinct(col("doc_id"))).as("v_dup_id"))
      .select(
        expr("""stack(4,
          'documents', 'text_not_empty', v_empty_text, n,
          'documents', 'lang_in_domain', v_bad_lang, n,
          'documents', 'n_chars_matches_text', v_len_drift, n,
          'documents', 'doc_id_unique', v_dup_id, n) AS (tbl, expectation, n_violations, n_rows)"""))
    ev.unionByName(docs)
      .select(
        col("tbl"),
        col("expectation"),
        col("n_violations"),
        col("n_rows"),
        (col("n_violations") === 0L).as("pass"))
      .orderBy("tbl", "expectation")
  }

  // ------------------------------------------------------------- RFM segments

  /** RFM (recency / frequency / monetary) customer segmentation — the
    * classic CRM cut, done the scale-honest way: thresholds RELATIVE to
    * the corpus (mean frequency/monetary, reference day = max event
    * day — one 1-row broadcast, like the z-order bounds), NOT global
    * ntile quartiles, which would need a single-partition sort of every
    * user at 100 TB. Scoring is one partial-aggregating shuffle on
    * user_id plus a per-row CASE; relative thresholds also stay
    * meaningful at every scale factor (per-user volume grows with SF).
    * Output: per (r, f, m) score cell, user count and value share.
    */
  def qEventsRfm(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.Tables.dsum
    val ev = Tables.events(spark, sfDir)
    val perUser = ev
      .groupBy(col("user_id"))
      .agg(
        max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("freq"),
        dsum(col("value")).as("monetary"))
    // avg_f: exact integer sum / count. avg_m: decimal-cored (davg) —
    // a plain double avg is partial-merge-order-sensitive in the last
    // ulp, which could flip a user sitting exactly on the threshold
    val refs = perUser.agg(
      max(col("last_day")).as("ref_day"),
      avg(col("freq")).as("avg_f"),
      graft.Tables.davg(col("monetary")).as("avg_m"))
    perUser
      .crossJoin(broadcast(refs))
      .select(
        when(datediff(col("ref_day"), col("last_day")) <= 3, 3)
          .when(datediff(col("ref_day"), col("last_day")) <= 10, 2)
          .otherwise(1)
          .as("r"),
        when(col("freq") >= col("avg_f") * 1.02, 3)
          .when(col("freq") >= col("avg_f"), 2)
          .otherwise(1)
          .as("f"),
        when(col("monetary") >= col("avg_m") * 1.02, 3)
          .when(col("monetary") >= col("avg_m"), 2)
          .otherwise(1)
          .as("m"),
        col("monetary"))
      .groupBy("r", "f", "m")
      .agg(count(lit(1)).as("n_users"), dsum(col("monetary")).as("total_value"))
      .orderBy("r", "f", "m")
  }

  // ------------------------------------------------------------------ mode

  /** Deterministic per-group mode: most frequent `l_quantity` per return
    * flag, ties broken toward the smallest value (built-in `mode()` is
    * tie-arbitrary — useless for engine comparison). Two partial-agg
    * shuffles: (group, value) counts, then one `max_by` over the count
    * with the value tiebreak folded into the ordering struct — no window
    * sort anywhere.
    */
  def qAggMode(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .lineitem(spark, sfDir)
      .groupBy(col("l_returnflag"), col("l_quantity"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(col("l_returnflag"))
      .agg(
        max_by(col("l_quantity"), struct(col("cnt"), -col("l_quantity"))).as("mode_qty"),
        max(struct(col("cnt"), -col("l_quantity"))).getField("cnt").as("n_mode"))
      .orderBy("l_returnflag")

  // ------------------------------------------- exact median (radix selection)

  /** Distributed EXACT per-group median via iterative radix selection
    * (r9, round-8 verdict ask #8 — "the one genuinely absent batch
    * member": an exact quantile path that survives groups too large to
    * sort). Lower median (position ⌊(n+1)/2⌋ — the `q_dq_outlier_mad`
    * convention) of `l_extendedprice` cents per return flag.
    *
    * The algorithm (classic distributed selection): keep per group a
    * live value range [lo, hi] and a target rank k. Each pass buckets
    * the in-range values into ≤ [[MedianRadixB]] equal integer steps
    * with ONE partial-count aggregation, collects the ≤ |groups|·B
    * bucket counts (bounded model state — the IVF-centroid precedent,
    * never data), walks the cumulative histogram to the bucket holding
    * rank k, and narrows [lo, hi] to that bucket. Step width shrinks
    * ×B per pass, so passes = ⌈log_B(range)⌉ — 3 scans for cent-valued
    * prices at B = 1024, ≤ 7 for ANY 64-bit domain (hard bound,
    * throws beyond it rather than looping). Compare the alternatives
    * at 100 TB: a per-group sort window shuffles EVERY row wide
    * (`q_dq_outlier_mad`'s shape — fine for nation-bounded groups,
    * fatal for billion-row groups); a KLL/GK sketch
    * (`q_agg_quantile_sketch`) is one pass but approximate. This is
    * the exact-AND-unsorted tier: the full table never shuffles — each
    * pass moves only (group, bucket) pairs into a ≤ B-row-per-group
    * agg, and the broadcast state frame is |groups| rows.
    *
    * Exactness: cents are exact LONGs (house `round(×100)` pattern,
    * `q_dq_benford` precedent); bucket index `(v − lo) div step` is
    * exact integer math; the final lo = hi value IS a data value, and
    * the oracle's position pick replays it bit-for-bit. Grouping-key
    * cardinality must be driver-bounded (here 3; the contract all
    * bounded-model-state entries share).
    */
  def qAggMedianRadix(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val vals = Tables
      .lineitem(spark, sfDir)
      .select(
        col("l_returnflag").as("grp"),
        round(col("l_extendedprice") * 100).cast("long").as("v"))
      .transform(Materialize.eager) // scanned once per pass — materialize the cents once
    val init = vals
      .groupBy("grp")
      .agg(count(lit(1)).as("n"), min("v").as("mn"), max("v").as("mx"))
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // state: group -> (lo, hi, k) with k the 1-based rank inside [lo, hi]
    var state = init.map { case (g, (n, mn, mx)) => g -> ((mn, mx, (n + 1) / 2)) }
    var pass = 0
    while (state.values.exists { case (lo, hi, _) => lo < hi }) {
      pass += 1
      if (pass > MedianRadixMaxPasses)
        throw new IllegalStateException(
          s"radix selection did not pin the median in $MedianRadixMaxPasses passes " +
            "(impossible for a 64-bit domain — state corruption)")
      val live = state.collect {
        case (g, (lo, hi, k)) if lo < hi =>
          (g, lo, hi, (hi - lo + 1 + MedianRadixB - 1) / MedianRadixB, k)
      }.toSeq
      val stDf = live.map { case (g, lo, hi, step, _) => (g, lo, hi, step) }
        .toDF("grp", "lo", "hi", "step")
      val counts = vals
        .join(broadcast(stDf), "grp")
        .where(col("v") >= col("lo") && col("v") <= col("hi"))
        .groupBy(col("grp"), expr("(v - lo) div step").as("bkt"))
        .agg(count(lit(1)).as("c"))
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
        .groupBy(_._1)
      state = state ++ live.map { case (g, lo, _, step, k) =>
        val buckets = counts(g).map { case (_, b, c) => (b, c) }.sortBy(_._1)
        var cum = 0L
        var picked = -1L
        var cumBefore = 0L
        buckets.foreach { case (b, c) =>
          if (picked < 0) {
            if (cum + c >= k) { picked = b; cumBefore = cum }
            else cum += c
          }
        }
        val newLo = lo + picked * step
        val newHi = math.min(state(g)._2, newLo + step - 1)
        g -> ((newLo, newHi, k - cumBefore))
      }
    }
    state.toSeq
      .map { case (g, (lo, _, _)) => (g, init(g)._1, lo, lo.toDouble / 100.0) }
      .toDF("grp", "n_rows", "median_cents", "median")
      .orderBy("grp")
  }

  /** Radix fan-out per selection pass and the 64-bit pass bound
    * (1024^7 = 2^70 > 2^64 — the loop CANNOT legitimately exceed it).
    */
  val MedianRadixB = 1024L
  val MedianRadixMaxPasses = 7

  // ------------------------------------------------------------ bitwise fns

  /** Bitwise function battery (and/or/xor, shifts, popcount) — the bit
    * manipulation surface the hash/signature operators lean on, exercised
    * as first-class columns. Pure per-row projection at the scan.
    */
  def qFnBitwise(spark: SparkSession, sfDir: String): DataFrame =
    Tables
      .orders(spark, sfDir)
      .select(
        col("o_orderkey"),
        col("o_orderkey").bitwiseAND(255).as("b_and"),
        col("o_orderkey").bitwiseOR(4096).as("b_or"),
        col("o_orderkey").bitwiseXOR(1535).as("b_xor"),
        shiftleft(col("o_orderkey"), 2).as("b_shl"),
        shiftright(col("o_orderkey"), 3).as("b_shr"),
        bit_count(col("o_orderkey")).as("b_cnt"))
      .orderBy("o_orderkey")

  // ------------------------------------------- approximate-distinct sketches

  /** KMV (k-minimum-values) distinct sketch per event type + the global
    * union — the ORACLE-CHECKABLE member of the approximate-distinct
    * family: unlike HLL's register estimate (`q_agg_hll_merge`, rows-only
    * by design), the KMV estimate `(k−1)·2⁶⁰ / h₍ₖ₎` is a DETERMINISTIC
    * function of the md5 hash stream, so DuckDB reproduces it
    * bit-for-bit. The sketch is mergeable (union of k-smallest sets →
    * k-smallest of union — the `MinK`/`s_stream_reservoir` lattice), and
    * each scope also reports the exact distinct count and relative
    * error, making the entry its own accuracy audit.
    *
    * Exactness: hashes are exact 60-bit integers (the hllRegisters
    * hex15 idiom); the estimate is one constant-folded exact product
    * (31·2⁶⁰ is mantissa-exact) and one IEEE division; under-filled
    * sketches (k_used < k) return the exact held count. Scale shape:
    * ONE (type, hash) distinct partial-agg shuffle; the per-type
    * k-smallest is the rank ≤ k window (unique hashes make rank ≡
    * row_number) and the union scope is a TakeOrdered k-merge; exact
    * counts ride the same shuffle family.
    */
  def qAggKmvDistinct(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 32
    val ev = Tables.events(spark, sfDir)
    val h = graft.Tables.hash60(col("user_id"))
    val uh = ev.select(col("event_type"), h.as("h")).distinct()
    val kept = uh
      .withColumn("rn", rank().over(Window.partitionBy("event_type").orderBy(col("h").asc)))
      .where(col("rn") <= k)
    val perType = kept
      .groupBy(col("event_type").as("scope"))
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
    val exactT = ev
      .groupBy(col("event_type").as("scope"))
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
    val unionKept = ev.select(h.as("h")).distinct().orderBy(col("h").asc).limit(k)
    val unionRow = unionKept
      .agg(count(lit(1)).as("k_used"), max(col("h")).as("kth_hash"))
      .withColumn("scope", lit("ALL"))
    val exactAll = ev
      .agg(countDistinct(col("user_id")).as("exact_distinct"))
      .withColumn("scope", lit("ALL"))
    val est = when(col("k_used") < k, col("k_used").cast("double"))
      .otherwise(lit((k - 1).toDouble) * lit(Tables.KmvRange) / col("kth_hash").cast("double"))
    val base = perType.join(exactT, "scope")
    base
      .unionByName(unionRow.join(exactAll, "scope").select(base.columns.map(col).toSeq: _*))
      .withColumn("est_distinct", est)
      .select(
        col("scope"),
        col("k_used"),
        col("kth_hash"),
        col("est_distinct"),
        col("exact_distinct"),
        ((col("est_distinct") - col("exact_distinct").cast("double")) /
          col("exact_distinct").cast("double")).as("rel_err"))
      .orderBy("scope")
  }

  /** Pairwise KMV set-intersection estimates between event-type user
    * sets — the ORACLE-CHECKED closing of the gap `q_agg_hll_intersect`
    * leaves (HLL intersection via inclusion–exclusion is rows-only by
    * design; KMV intersection is a deterministic function of the
    * hashes): for every type pair, θ = kth smallest of the UNION of the
    * two k-min sketches, c = common sketch hashes ≤ θ, and
    * `|A∩B| ≈ (c/k)·n̂_union`. Under-filled unions degrade to EXACT
    * (the sketches then hold every hash). Each pair also reports the
    * exact intersection and relative error — its own accuracy audit.
    *
    * Scale shape: the corpus pass is the same ONE (type, hash) distinct
    * agg as `q_agg_kmv_distinct`; everything pairwise runs on the
    * ≤|types|·k kept-hash frame (pair fan-out via two broadcast joins
    * of the ≤|pairs| type-pair list, per-pair rank window, hash-equality
    * self-join for common hashes). The exact audit column is one
    * (user, type) distinct self-join — the honest exact cost the sketch
    * path avoids at 100 TB.
    */
  def qAggKmvIntersect(spark: SparkSession, sfDir: String): DataFrame = {
    val k = 32
    val ev = Tables.events(spark, sfDir)
    val h = graft.Tables.hash60(col("user_id"))
    val uh = ev.select(col("event_type"), h.as("h")).distinct()
    val kept = uh
      .withColumn("rn", rank().over(Window.partitionBy("event_type").orderBy(col("h").asc)))
      .where(col("rn") <= k)
      .select(col("event_type").as("et"), col("h"))
      .transform(Materialize.eager) // ≤|types|·k rows; feeds pair union, common, θ
    val tp = kept
      .select(col("et").as("ta"))
      .distinct()
      .crossJoin(kept.select(col("et").as("tb")).distinct())
      .where(col("ta") < col("tb"))
    val u1 = tp.join(kept.select(col("et").as("ta"), col("h")), "ta")
    val u2 = tp.join(kept.select(col("et").as("tb"), col("h")), "tb")
    val uu = u1.select("ta", "tb", "h").unionByName(u2.select("ta", "tb", "h")).distinct()
    val theta = uu
      .withColumn(
        "rn",
        rank().over(Window.partitionBy("ta", "tb").orderBy(col("h").asc)))
      .where(col("rn") <= k)
      .groupBy("ta", "tb")
      .agg(count(lit(1)).as("ku"), max(col("h")).as("theta"))
    val common = kept
      .select(col("et").as("ca"), col("h"))
      .join(kept.select(col("et").as("cb"), col("h")), "h")
      .where(col("ca") < col("cb"))
      .select(col("ca").as("cta"), col("cb").as("ctb"), col("h"))
    // h ≤ θ belongs in the JOIN condition, not a post-join WHERE: a pair
    // whose common hashes all rank above θ must still emit its c = 0 row
    // (a WHERE would drop the pair entirely while the oracle keeps it —
    // caught in the r12 third-session review; the spec now pins full
    // pair coverage)
    val cCnt = theta
      .join(
        common,
        col("ta") === col("cta") && col("tb") === col("ctb") && col("h") <= col("theta"),
        "left")
      .groupBy("ta", "tb", "ku", "theta")
      .agg(count(col("h")).as("c"))
    val exact = ev
      .select(col("user_id"), col("event_type"))
      .distinct()
      .transform(Materialize.eager)
    val exPair = exact
      .select(col("user_id"), col("event_type").as("xa"))
      .join(exact.select(col("user_id"), col("event_type").as("xb")), "user_id")
      .where(col("xa") < col("xb"))
      .groupBy(col("xa").as("ta"), col("xb").as("tb"))
      .agg(count(lit(1)).as("exact_intersect"))
    val nU = lit((k - 1).toDouble) * lit(Tables.KmvRange) / col("theta").cast("double")
    val est = when(col("ku") < k, col("c").cast("double"))
      .otherwise(col("c").cast("double") / lit(k.toDouble) * nU)
    cCnt
      .join(exPair, Seq("ta", "tb"), "left")
      .select(
        col("ta").as("type_a"),
        col("tb").as("type_b"),
        col("ku").as("k_used_union"),
        col("c").as("c_common"),
        est.as("est_intersect"),
        coalesce(col("exact_intersect"), lit(0L)).as("exact_intersect"))
      .withColumn(
        "abs_err",
        col("est_intersect") - col("exact_intersect").cast("double"))
      .orderBy("type_a", "type_b")
  }

  // ----------------------------------------------------- count-min sketch

  /** Point-frequency estimation via the [[graft.functions.CountMin]]
    * sketch: build one 3×4096 counter grid over the whole token stream
    * (one partial sketch per partition, element-wise-add merge — 96 KiB
    * crosses the shuffle per partition, never tokens), then probe every
    * distinct token against the broadcast sketch with PLAIN COLUMN
    * arithmetic: `least(element_at(sk, pmod(xxhash64(tok, i), 4096) +
    * i*4096 + 1) ...)` — the aggregator's row hashes are bit-identical to
    * Spark's `xxhash64` builtin, so no UDF sits on the probe path.
    *
    * Oracle: the corpus vocabulary (~31 words) is ≪ 4096, so every grid
    * row is collision-free and the estimate is EXACT = the plain
    * `GROUP BY tok` counts (the same exact-regime trick `q_topk_approx`
    * uses); the collision/overestimate regime is spec-pinned at W = 2.
    * At 100 TB the sketch answers point lookups without materializing
    * the (huge) exact token table.
    */
  def qAggCountMin(spark: SparkSession, sfDir: String): DataFrame = {
    // r12: sketch construction + probe delegated to the Streams pair so
    // the batch entry and s_stream_count_min share one definition
    val docs = Tables.documents(spark, sfDir)
    graft.streaming.Streams.countMinProbe(
      graft.streaming.Streams.countMinState(docs),
      LlmOps.docTokens(docs))
  }

  // ------------------------------------------------------- anomaly detection

  /** Daily-volume anomaly detection per event type: z-score of each
    * (type, day) event count against that type's own daily distribution —
    * the ingest-monitoring shape (a collector outage or a bot flood shows
    * up as |z| > 2 long before downstream metrics move).
    *
    * Exact and merge-order-independent: the daily counts are integers, the
    * per-type mean/variance come from integer power sums (count, Σn, Σn²
    * — same re-aggregatable-moments pattern as `q_agg_moments`), and the
    * only doubles are the final closed form, rounded to 1e-6 (FMA-
    * contraction guard, see `q_agg_corr`). Scale shape: one partial-agg
    * shuffle on (type, day), then whole-partition window aggregates over
    * the resulting daily table — which is types × days, i.e. grows with
    * TIME not data volume, so the window pass is bounded at any corpus
    * size and the raw events table is scanned exactly once.
    */
  def qEventsAnomaly(spark: SparkSession, sfDir: String): DataFrame = {
    val daily = Tables
      .events(spark, sfDir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"))
    // per-type moments as whole-partition window aggregates over the
    // (tiny: types × days) daily table — ONE events scan; a groupBy +
    // join-back formulation re-scans the full events table for the
    // stats branch, which is the expensive half at 100 TB
    val w = Window.partitionBy("event_type")
    val nDays = count(lit(1)).over(w).cast("double")
    val sx = sum(col("n")).over(w).cast("double")
    val sxx = sum(col("n") * col("n")).over(w).cast("double")
    val mean = sx / nDays
    // population variance from the power sums; greatest(.,0) absorbs the
    // tiny negative FP residue a zero-variance group can produce
    val variance = greatest(sxx / nDays - mean * mean, lit(0.0))
    val z = when(
      variance > 0,
      round((col("n").cast("double") - mean) / sqrt(variance), 6)).otherwise(lit(0.0))
    daily
      .select(col("event_type"), col("day"), col("n"), z.as("z"))
      .withColumn("is_anomaly", abs(col("z")) > 2.0)
      .orderBy("event_type", "day")
  }

  // ---------------------------------------------------- feature engineering

  /** Feature-hashing vectorizer audit (the "hashing trick",
    * Weinberger et al. 2009): hash every corpus token into a fixed
    * 64-dim space (16 md5 bits mod 64 — engine-portable, the
    * q_sample_weighted hash idiom; 64 keeps the collision readout
    * non-vacuous against the fixture's ~31-word vocabulary — a
    * production space is 2^18+, same audit) and report per-dimension
    * load — total
    * token mass, distinct tokens (collision count), and the heaviest
    * token with its share. This is the audit a feature-hashed model
    * pipeline runs to pick the dimension count: collision-heavy dims
    * (n_distinct ≫ 1 with low top share) say the space is too small.
    *
    * Scale shape: the hash is stateless at the token explode; ONE
    * (dim, tok) partial-agg shuffle, then a ≤dims-row grouped fold plus
    * the heavy-token pick as the rn = 1 ARGMAX window (cnt DESC, tok
    * DESC tiebreak) — the shape WindowTopKRule rewrites to the native
    * GroupTopK heap under the extension tier (a `max_by(tok,
    * struct(cnt, tok))` would be one pass but demotes the whole agg to
    * SortAggregate — the struct-buffer cliff `Tables.tsIdKey` documents).
    * Exact integers; the share is one IEEE division per dim.
    */
  def qFeatureHashing(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = 64
    val tokCnt = LlmOps
      .docTokens(Tables.documents(spark, sfDir))
      .groupBy(col("tok"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn(
        "dim",
        conv(substring(md5(col("tok").cast("binary")), 1, 4), 16, 10).cast("long") % dims)
      .transform(Materialize.eager) // vocab-sized; feeds the fold AND the argmax
    val wTop = Window.partitionBy("dim").orderBy(col("cnt").desc, col("tok").desc)
    val top = tokCnt
      .withColumn("rn", row_number().over(wTop))
      .where(col("rn") === 1)
      .select(col("dim").as("t_dim"), col("tok").as("top_tok"), col("cnt").as("top_cnt"))
    tokCnt
      .groupBy(col("dim"))
      .agg(sum(col("cnt")).as("n_toks"), count(lit(1)).as("n_distinct"))
      .join(top, col("dim") === col("t_dim"))
      .select(
        col("dim"),
        col("n_toks"),
        col("n_distinct"),
        col("top_tok"),
        col("top_cnt"),
        (col("top_cnt").cast("double") / col("n_toks").cast("double")).as("top_share"))
      .orderBy("dim")
  }

  /** Robust per-group feature scaling (feature-engineering shape):
    * winsorize `c_acctbal` to its segment's [p05, p95], then min-max
    * normalize to [0, 1]. Quantile clamping instead of mean/std keeps one
    * whale from flattening everyone else's feature — the standard robust
    * scaler for heavy-tailed features.
    *
    * Scale shape: the thresholds are one exact-percentile agg (5 rows —
    * at 100 TB you'd swap `percentile` for the mergeable
    * `q_agg_quantile_sketch` path and keep everything else identical)
    * broadcast back to the row scan; per-row work is pure projection, no
    * second shuffle. Thresholds are rounded to 1e-6 before the clamp so
    * the derived arithmetic starts from identical doubles in both engines
    * (`q_agg_percentile` proves the raw interpolation already matches).
    */
  def qFeatureScale(spark: SparkSession, sfDir: String): DataFrame = {
    val cust = Tables.customer(spark, sfDir)
    val qs = cust
      .groupBy(col("c_mktsegment"))
      .agg(
        round(percentile(col("c_acctbal"), lit(0.05)), 6).as("lo"),
        round(percentile(col("c_acctbal"), lit(0.95)), 6).as("hi"))
    val clamped = least(greatest(col("c_acctbal"), col("lo")), col("hi"))
    cust
      .join(broadcast(qs), "c_mktsegment")
      .select(
        col("c_custkey"),
        col("c_mktsegment"),
        when(col("hi") > col("lo"), round((clamped - col("lo")) / (col("hi") - col("lo")), 6))
          .otherwise(lit(0.5))
          .as("scaled"))
      .orderBy("c_custkey")
  }

  // ------------------------------------------------------------ A/B testing

  /** A/B experiment readout: users hash-assigned to two variants (same
    * multiplicative-hash determinism as `q_split_assign` — reproducible
    * across engines and runs), per-user purchase totals compared with a
    * Welch t statistic. The decision metric every experimentation
    * pipeline ends in; "model-trained-on-dataset-A vs B" evals are this
    * exact shape.
    *
    * Exactness: per-user sums are DECIMAL(18,6); variant n/mean/variance
    * come from decimal power sums (the `q_agg_stats` discipline), the
    * t statistic's doubles are rounded 1e-6. Scale: one user-keyed
    * partial-agg shuffle, then a 2-row reduce — nothing else moves.
    */
  def qEventsAbtest(spark: SparkSession, sfDir: String): DataFrame = {
    val perUser = Tables
      .events(spark, sfDir)
      .where(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(col("value").cast("decimal(18,6)")).as("spend"))
      .select(
        when(pmod((col("user_id") % lit(2147483648L)) * lit(2654435761L), lit(2)) === 0, "A")
          .otherwise("B")
          .as("variant"),
        col("spend"))
    // re-cast the (28,6) per-user sum down to (18,6) (exact at these
    // magnitudes) so the square stays within decimal-38 exactly on both
    // engines — the q_agg_stats product discipline
    val sp = col("spend").cast("decimal(18,6)")
    val byVariant = perUser
      .groupBy(col("variant"))
      .agg(
        count(lit(1)).as("n"),
        sum(sp).as("sx"),
        sum(sp * sp).as("sxx"))
      .select(
        col("variant"),
        col("n"),
        col("sx").cast("double").as("sxd"),
        col("sxx").cast("double").as("sxxd"))
    val mean = col("sxd") / col("n").cast("double")
    // unbiased per-variant variance from the power sums
    val variance =
      (col("sxxd") - col("sxd") * col("sxd") / col("n").cast("double")) /
        (col("n").cast("double") - 1.0)
    val stats = byVariant.select(
      col("variant"),
      col("n"),
      round(mean, 6).as("mean_spend"),
      round(variance, 6).as("var_spend"))
    // fold the 2-row variant table into one row with conditional
    // aggregates — an A×B self-join here would recompute the whole
    // upstream (two full events scans) since Spark doesn't cache
    // shared subplans across join sides
    def side(v: String, c: String) = max(when(col("variant") === v, col(c)))
    val t = round(
      (col("mean_a") - col("mean_b")) /
        sqrt(
          col("var_a") / col("n_a").cast("double") +
            col("var_b") / col("n_b").cast("double")),
      6)
    stats
      .agg(
        side("A", "n").as("n_a"),
        side("B", "n").as("n_b"),
        side("A", "mean_spend").as("mean_a"),
        side("B", "mean_spend").as("mean_b"),
        side("A", "var_spend").as("var_a"),
        side("B", "var_spend").as("var_b"))
      .select(
        col("n_a"),
        col("n_b"),
        col("mean_a"),
        col("mean_b"),
        t.as("t_welch"))
      .withColumn("significant", abs(col("t_welch")) > 1.96)
  }

  /** Sample-ratio mismatch (SRM) guardrail for the A/B readout: before
    * trusting `q_events_abtest`'s t statistic, check the variant split
    * itself. Assignment is upstream of behavior, so this counts ALL
    * users seen in the event stream (not just purchasers) under the
    * same assignment hash. For a 50/50 design the df=1 chi-square
    * collapses algebraically to `(n_a − n_b)² / (n_a + n_b)` — an exact
    * integer numerator, so the statistic is float-noise-free by
    * construction; gate at the 3.841 (α = 0.05) critical value. One
    * DISTINCT-user partial agg + a 2-cell reduce.
    */
  def qEventsAbSrm(spark: SparkSession, sfDir: String): DataFrame = {
    // user_id % 2^31 BEFORE the Knuth multiply: 2^31 · 2654435761 < 2^63,
    // so variant hashing cannot overflow for ANY id — the unguarded
    // multiply blew up under ANSI mode at the ×10 scale probe (ids
    // shifted by i·10⁹ crossed 2^63 / 2654435761 ≈ 3.5e9). Same pre-mod
    // in the oracle; ids < 2^31 (all fixtures) hash identically.
    val users = Tables
      .events(spark, sfDir)
      .select(col("user_id"))
      .distinct()
      .select(
        when(pmod((col("user_id") % lit(2147483648L)) * lit(2654435761L), lit(2)) === 0, "A")
          .otherwise("B")
          .as("variant"))
    users
      .groupBy("variant")
      .agg(count(lit(1)).as("n"))
      .agg(
        sum(when(col("variant") === "A", col("n")).otherwise(0L)).as("n_a"),
        sum(when(col("variant") === "B", col("n")).otherwise(0L)).as("n_b"))
      .select(
        col("n_a"),
        col("n_b"),
        round(
          ((col("n_a") - col("n_b")) * (col("n_a") - col("n_b"))).cast("double") /
            (col("n_a") + col("n_b")),
          6).as("chi2"))
      .withColumn("srm", col("chi2") > 3.841459)
  }

  // ------------------------------------------------------------- registry

  val all: Seq[(String, Q)] = Seq(
    "q_embed_centroid" -> Q(
      qEmbedCentroid,
      Some("""WITH un AS (
             | SELECT label, CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS pos, unnest(embedding) AS v
             | FROM embeddings)
             |SELECT label, pos,
             | CAST(sum(CAST(round(CAST(v AS DOUBLE) * 1e6, 0) AS BIGINT)) AS DOUBLE) / 1e6 / count(1) AS mean_val
             |FROM un GROUP BY label, pos ORDER BY label, pos""".stripMargin)),
    "q_embed_whitening" -> Q(
      qEmbedWhitening,
      Some("""WITH un AS (
             | SELECT CAST(generate_subscripts(embedding, 1) - 1 AS INT) AS dim,
             |  CAST(unnest(embedding) AS DOUBLE) AS vd
             | FROM embeddings),
             |q AS (
             | SELECT dim, vd, CAST(round(vd * 1e6, 0) AS BIGINT) AS vq FROM un),
             |a AS (
             | SELECT dim, count(1) AS n,
             |  sum(vq) AS s, sum(vq * vq) AS ss,
             |  min(vd) AS min_v, max(vd) AS max_v
             | FROM q GROUP BY dim)
             |SELECT dim, CAST(n AS BIGINT) AS n,
             | round(CAST(s AS DOUBLE) / n / 1e6, 6) AS mean,
             | round(sqrt(CAST(ss AS DOUBLE) / n -
             |            (CAST(s AS DOUBLE) / n) * (CAST(s AS DOUBLE) / n)) / 1e6, 6) AS std,
             | min_v, max_v
             |FROM a ORDER BY dim""".stripMargin)),
    "q_pack_sequences" -> Q(
      qPackSequences,
      Some(s"""WITH d AS (
              | SELECT doc_id,
              |  CASE WHEN ((doc_id % 2147483648) * 40503) % 100 < 80 THEN 'train'
              |       WHEN ((doc_id % 2147483648) * 40503) % 100 < 90 THEN 'val' ELSE 'test' END AS split,
              |  doc_id % 8 AS bucket,
              |  len(toks) AS toks
              | FROM $DOCS_T),
              |c AS (
              | SELECT doc_id, split, bucket, toks,
              |  CAST(sum(toks) OVER (PARTITION BY split, bucket ORDER BY doc_id
              |                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - toks AS BIGINT) AS start_off
              | FROM d)
              |SELECT split, bucket, start_off // 2048 AS pack_id,
              | count(1) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens,
              | min(doc_id) AS first_doc, max(doc_id) AS last_doc
              |FROM c GROUP BY 1, 2, 3 ORDER BY split, bucket, pack_id""".stripMargin)),
    "q_events_scd2" -> Q(
      qEventsScd2,
      Some(s"""SELECT user_id, event_id, ts AS valid_from,
              | lead(ts) OVER w AS valid_to, value,
              | CAST(lead(ts) OVER w IS NULL AS INT) AS is_current
              |FROM $EV
              |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
              |ORDER BY user_id, valid_from, event_id""".stripMargin)),
    "q_agg_corr_matrix" -> Q(
      qAggCorrMatrix,
      Some {
        // Generated from the SAME grains map as the Spark plan so the two
        // sides cannot drift: fixed-point long sum, exact in both engines
        // (DuckDB sums BIGINT into HUGEINT; Spark's long stays in range by
        // grain construction).
        val cols = Map("q" -> "l_quantity", "p" -> "l_extendedprice", "d" -> "l_discount", "t" -> "l_tax")
        def fs(key: String): String = {
          val expr = key.toSeq.map(ch => cols(ch.toString)).mkString(" * ")
          fsumSql(expr, corrMatrixGrains(key), s"s_$key")
        }
        val sumList = Seq("q", "p", "d", "t", "qq", "pp", "dd", "tt", "qp", "qd", "qt", "pd", "pt", "dt")
          .map(k => s"  ${fs(k)}")
          .mkString(",\n")
        s"""WITH s AS (
           | SELECT l_returnflag, count(1) AS n,
           |$sumList
           | FROM lineitem GROUP BY l_returnflag)
           |SELECT l_returnflag, n, pair, corr FROM (
           | SELECT l_returnflag, n, 'q_p' AS pair,
           |  round((n * s_qp - s_q * s_p) / (sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_pp - s_p * s_p)), 9) AS corr FROM s
           | UNION ALL SELECT l_returnflag, n, 'q_d',
           |  round((n * s_qd - s_q * s_d) / (sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_dd - s_d * s_d)), 9) FROM s
           | UNION ALL SELECT l_returnflag, n, 'q_t',
           |  round((n * s_qt - s_q * s_t) / (sqrt(n * s_qq - s_q * s_q) * sqrt(n * s_tt - s_t * s_t)), 9) FROM s
           | UNION ALL SELECT l_returnflag, n, 'p_d',
           |  round((n * s_pd - s_p * s_d) / (sqrt(n * s_pp - s_p * s_p) * sqrt(n * s_dd - s_d * s_d)), 9) FROM s
           | UNION ALL SELECT l_returnflag, n, 'p_t',
           |  round((n * s_pt - s_p * s_t) / (sqrt(n * s_pp - s_p * s_p) * sqrt(n * s_tt - s_t * s_t)), 9) FROM s
           | UNION ALL SELECT l_returnflag, n, 'd_t',
           |  round((n * s_dt - s_d * s_t) / (sqrt(n * s_dd - s_d * s_d) * sqrt(n * s_tt - s_t * s_t)), 9) FROM s)
           |ORDER BY l_returnflag, pair""".stripMargin
      }),
    "q_agg_corr" -> Q(
      qAggCorr,
      Some {
        val g = corrMatrixGrains
        s"""WITH s AS (
           | SELECT l_returnflag,
           |  count(1) AS n,
           |  ${fsumSql("l_quantity", g("q"), "sx")},
           |  ${fsumSql("l_extendedprice", g("p"), "sy")},
           |  ${fsumSql("l_quantity * l_extendedprice", g("qp"), "sxy")},
           |  ${fsumSql("l_quantity * l_quantity", g("qq"), "sxx")},
           |  ${fsumSql("l_extendedprice * l_extendedprice", g("pp"), "syy")}
           | FROM lineitem GROUP BY 1)
           |SELECT l_returnflag, n,
           | round((n * sxy - sx * sy) / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 9) AS corr_qty_price
           |FROM s ORDER BY l_returnflag""".stripMargin
      }),
    "q_events_resample" -> Q(
      qEventsResample,
      Some(s"""WITH b0 AS (
              | SELECT user_id, make_timestamp((epoch_us(ts) // 3600000000) * 3600000000) AS gt, value,
              |  row_number() OVER (PARTITION BY user_id, epoch_us(ts) // 3600000000
              |                     ORDER BY ts DESC, event_id DESC) AS rn
              | FROM $EV),
              |b AS (SELECT user_id, gt, value AS v_last FROM b0 WHERE rn = 1),
              |bounds AS (
              | SELECT user_id, make_timestamp((epoch_us(min(ts)) // 3600000000) * 3600000000) AS t0,
              |        make_timestamp((epoch_us(max(ts)) // 3600000000) * 3600000000) AS t1
              | FROM $EV GROUP BY 1),
              |grid AS (
              | SELECT user_id, CAST(unnest(generate_series(t0, t1, INTERVAL 1 HOUR)) AS TIMESTAMP) AS gt
              | FROM bounds)
              |SELECT g.user_id, g.gt,
              | CAST(b.v_last IS NOT NULL AS INT) AS observed,
              | last_value(b.v_last IGNORE NULLS) OVER (PARTITION BY g.user_id ORDER BY g.gt
              |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value_locf
              |FROM grid g LEFT JOIN b ON g.user_id = b.user_id AND g.gt = b.gt
              |ORDER BY g.user_id, g.gt""".stripMargin)),
    "q_events_interpolate" -> Q(
      qEventsInterpolate,
      Some(s"""WITH obs AS (
              | SELECT event_type, epoch_us(ts) // 300000000 AS bucket,
              |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) / count(1) AS v_obs
              | FROM ${LlmOps.EV} WHERE value IS NOT NULL GROUP BY 1, 2),
              |span AS (SELECT event_type, min(bucket) AS b0, max(bucket) AS b1 FROM obs GROUP BY 1),
              |grid AS (
              | SELECT event_type, unnest(generate_series(b0, b1)) AS bucket FROM span),
              |j AS (
              | SELECT g.event_type, g.bucket, o.v_obs,
              |  last_value(o.v_obs IGNORE NULLS) OVER wp AS pv,
              |  last_value(CASE WHEN o.v_obs IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER wp AS pb,
              |  first_value(o.v_obs IGNORE NULLS) OVER wn AS nv,
              |  first_value(CASE WHEN o.v_obs IS NOT NULL THEN g.bucket END IGNORE NULLS) OVER wn AS nb
              | FROM grid g LEFT JOIN obs o ON g.event_type = o.event_type AND g.bucket = o.bucket
              | WINDOW wp AS (PARTITION BY g.event_type ORDER BY g.bucket
              |               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
              |        wn AS (PARTITION BY g.event_type ORDER BY g.bucket
              |               ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING))
              |SELECT event_type, make_timestamp(bucket * 300000000) AS gt,
              | CAST(v_obs IS NOT NULL AS INT) AS observed,
              | CASE WHEN v_obs IS NOT NULL THEN v_obs
              |      WHEN pv IS NOT NULL AND nv IS NOT NULL
              |       THEN pv + (nv - pv) * (CAST(bucket - pb AS DOUBLE) / CAST(nb - pb AS DOUBLE))
              |      WHEN pv IS NOT NULL THEN pv
              |      ELSE nv END AS value_interp
              |FROM j ORDER BY event_type, gt""".stripMargin)),
    "q_dedup_fuzzy" -> Q(
      qDedupFuzzy,
      Some("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
             |cand AS (
             | SELECT a.doc_id AS d1, b.doc_id AS d2, a.text AS t1, b.text AS t2,
             |        greatest(a.n, b.n) AS mx
             | FROM d a JOIN d b
             |  ON substr(a.text, 1, 12) = substr(b.text, 1, 12)
             | AND a.doc_id < b.doc_id
             | AND abs(a.n - b.n) * 5 <= greatest(a.n, b.n))
             |SELECT d1, d2, CAST(levenshtein(t1, t2) AS INT) AS dist
             |FROM cand WHERE levenshtein(t1, t2) * 5 <= mx
             |ORDER BY d1, d2""".stripMargin)),
    // ln takes only integer arguments (rank, freq), per-term micro
    // quantization; regression sums are exact BIGINTs at any corpus
    // size, final arithmetic is the shared q_agg_linreg double sequence
    "q_text_zipf" -> Q(
      qTextZipf,
      Some("""WITH toks AS (
             | SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             | FROM documents),
             |c AS (SELECT tok, count(1) AS freq FROM toks GROUP BY 1),
             |tot AS (SELECT count(1) AS n_vocab, CAST(sum(freq) AS BIGINT) AS n_tokens FROM c),
             |top AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, tok ASC) AS rank
             |        FROM c ORDER BY freq DESC, tok ASC LIMIT 1000),
             |xy AS (
             | SELECT CAST(round(ln(CAST(rank AS DOUBLE)) * 1e6, 0) AS BIGINT) AS x,
             |  CAST(round(ln(CAST(freq AS DOUBLE)) * 1e6, 0) AS BIGINT) AS y
             | FROM top),
             |s AS (
             | SELECT CAST(count(1) AS DOUBLE) AS n,
             |  CAST(CAST(sum(x) AS BIGINT) AS DOUBLE) AS sx,
             |  CAST(CAST(sum(y) AS BIGINT) AS DOUBLE) AS sy,
             |  CAST(CAST(sum(x * y) AS BIGINT) AS DOUBLE) AS sxy,
             |  CAST(CAST(sum(x * x) AS BIGINT) AS DOUBLE) AS sxx,
             |  CAST(CAST(sum(y * y) AS BIGINT) AS DOUBLE) AS syy,
             |  count(1) AS n_head
             | FROM xy)
             |SELECT n_head, tot.n_vocab, tot.n_tokens,
             | (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
             | (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n / 1e6 AS intercept,
             | ((n * sxy - sx * sy) * (n * sxy - sx * sy)) /
             |       ((n * sxx - sx * sx) * (n * syy - sy * sy)) AS r2
             |FROM s CROSS JOIN tot""".stripMargin)),
    "q_text_tfidf" -> Q(
      qTextTfidf,
      Some("""WITH toks AS (
             | SELECT doc_id, unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS tok
             | FROM documents),
             |tf AS (SELECT doc_id, tok, count(1) AS tf FROM toks GROUP BY 1, 2),
             |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1),
             |n AS (SELECT count(1) AS n FROM documents),
             |scored AS (
             | SELECT tf.doc_id, tf.tok, round(tf.tf * ln(CAST(n.n AS DOUBLE) / df.df), 9) AS score
             | FROM tf JOIN df USING (tok) CROSS JOIN n),
             |rk AS (
             | SELECT doc_id, tok, score,
             |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS INT) AS rk
             | FROM scored)
             |SELECT doc_id, rk, tok, score FROM rk WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin)),
    "q_agg_moments" -> Q(
      qAggMoments,
      Some {
        val g = momentsGrains
        s"""WITH a AS (
           | SELECT l_returnflag, count(1) AS n,
           |  ${fsumSql("l_quantity", g("s1"), "s1")},
           |  ${fsumSql("l_quantity * l_quantity", g("s2"), "s2")},
           |  ${fsumSql("l_quantity * l_quantity * l_quantity", g("s3"), "s3")},
           |  ${fsumSql("l_quantity * l_quantity * l_quantity * l_quantity", g("s4"), "s4")}
           | FROM lineitem GROUP BY l_returnflag),
             |f AS (
             | SELECT l_returnflag, n,
             |  s1 / n AS m,
             |  s2 / n - (s1 / n) * (s1 / n) AS m2,
             |  s3 / n - 3.0 * (s1 / n) * (s2 / n) + 2.0 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             |  s4 / n - 4.0 * (s1 / n) * (s3 / n) + 6.0 * (s1 / n) * (s1 / n) * (s2 / n)
             |    - 3.0 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
             | FROM a)
             |SELECT l_returnflag, n, round(m, 9) AS mean_qty,
             | round(m3 / (m2 * sqrt(m2)), 9) AS skew_qty,
             | round(m4 / (m2 * m2) - 3.0, 9) AS kurt_qty
           |FROM f ORDER BY l_returnflag""".stripMargin
      }),
    // r14 ask #3: the daily-cell → max-merge → estimate pipeline replayed
    // bit-for-bit on the house md5-hex60 registers (the
    // q_agg_hll_replayable construction, day-keyed)
    "q_agg_hll_merge" -> Q(
      qAggHllMerge,
      Some("""WITH h AS (
             | SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS d,
             |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS hv
             | FROM events),
             |daily AS (
             | SELECT event_type, d, hv % 256 AS j,
             |  CAST(max(CASE WHEN hv // 256 = 0 THEN 53
             |                ELSE 53 - length(bin(hv // 256)) END) AS INTEGER) AS m_rho
             | FROM h GROUP BY 1, 2, 3),
             |merged AS (SELECT event_type, j, max(m_rho) AS m_rho FROM daily GROUP BY 1, 2),
             |agg AS (SELECT event_type, count(1) AS c,
             |         CAST(sum(1::BIGINT << (53 - m_rho)) AS BIGINT) AS s_present FROM merged GROUP BY 1),
             |days AS (SELECT event_type, count(DISTINCT d) AS n_days FROM daily GROUP BY 1),
             |calc AS (
             | SELECT event_type,
             |  0.7213 / (1.0 + 1.079 / 256) * (256.0 * 256) * 9007199254740992.0 /
             |   CAST(s_present + (256 - c) * 9007199254740992 AS DOUBLE) AS raw,
             |  256 - c AS v
             | FROM agg),
             |est AS (
             | SELECT event_type,
             |  round(CASE WHEN raw <= 640.0 AND v > 0
             |        THEN 256.0 * round(ln(256.0 / CAST(v AS DOUBLE)), 6) ELSE raw END, 6) AS est_users
             | FROM calc)
             |SELECT event_type, est_users, n_days
             |FROM est JOIN days USING (event_type) ORDER BY event_type""".stripMargin)),
    "q_agg_hll_replayable" -> Q(
      qAggHllReplayable,
      Some(s"""WITH regs AS (
             |${graft.queries.StreamingQueries.HllRegsSql}),
             |agg AS (SELECT event_type, count(1) AS c,
             |         CAST(sum(1::BIGINT << (53 - m_rho)) AS BIGINT) AS s_present FROM regs GROUP BY 1),
             |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact FROM events GROUP BY 1),
             |calc AS (
             | SELECT event_type, n_exact, c AS n_regs,
             |  0.7213 / (1.0 + 1.079 / 256) * (256.0 * 256) * 9007199254740992.0 /
             |   CAST(s_present + (256 - c) * 9007199254740992 AS DOUBLE) AS raw,
             |  256 - c AS v
             | FROM agg JOIN ex USING (event_type)),
             |est AS (
             | SELECT event_type, n_exact, n_regs,
             |  round(CASE WHEN raw <= 640.0 AND v > 0
             |        THEN 256.0 * round(ln(256.0 / CAST(v AS DOUBLE)), 6) ELSE raw END, 6) AS hll_est
             | FROM calc)
             |SELECT event_type, n_exact, n_regs, hll_est,
             | round((hll_est - n_exact) / n_exact * 100, 4) AS err_pct
             |FROM est ORDER BY event_type""".stripMargin)),
    // r14 ask #3: segment registers, lossless union, and all four
    // estimates replayed on the shared house-hash construction
    "q_agg_hll_intersect" -> Q(
      qAggHllIntersect,
      Some("""WITH h AS (
             | SELECT event_type,
             |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS hv
             | FROM events WHERE event_type IN ('click', 'purchase')),
             |regs AS (
             | SELECT event_type, hv % 256 AS j,
             |  CAST(max(CASE WHEN hv // 256 = 0 THEN 53
             |                ELSE 53 - length(bin(hv // 256)) END) AS INTEGER) AS m_rho
             | FROM h GROUP BY 1, 2),
             |uregs AS (SELECT j, max(m_rho) AS m_rho FROM regs GROUP BY 1),
             |folds AS (
             | SELECT event_type AS g, count(1) AS c,
             |  CAST(sum(1::BIGINT << (53 - m_rho)) AS BIGINT) AS s_present FROM regs GROUP BY 1
             | UNION ALL
             | SELECT '__union__' AS g, count(1) AS c,
             |  CAST(sum(1::BIGINT << (53 - m_rho)) AS BIGINT) AS s_present FROM uregs),
             |calc AS (
             | SELECT g,
             |  0.7213 / (1.0 + 1.079 / 256) * (256.0 * 256) * 9007199254740992.0 /
             |   CAST(s_present + (256 - c) * 9007199254740992 AS DOUBLE) AS raw,
             |  256 - c AS v
             | FROM folds),
             |est AS (
             | SELECT g,
             |  round(CASE WHEN raw <= 640.0 AND v > 0
             |        THEN 256.0 * round(ln(256.0 / CAST(v AS DOUBLE)), 6) ELSE raw END, 6) AS e
             | FROM calc),
             |wide AS (
             | SELECT max(CASE WHEN g = 'click' THEN e END) AS est_click,
             |        max(CASE WHEN g = 'purchase' THEN e END) AS est_purchase,
             |        max(CASE WHEN g = '__union__' THEN e END) AS est_union
             | FROM est)
             |SELECT est_click, est_purchase, est_union,
             | est_click + est_purchase - est_union AS est_both FROM wide""".stripMargin)),
    "q_agg_quantile_sketch" -> Q(
      qAggQuantileSketch,
      // The log-histogram IS SQL-expressible — unlike the HLL entries,
      // LogHistQuantile's state is a pure function of the value multiset
      // (bin = floor(ln x / ln 1.02), exact counts, merge = addition),
      // so DuckDB replays the whole sketch: histogram → cumulative
      // counts → lower nearest-rank pick → geometric bucket midpoint.
      // Sentinel -2^31 twins the zero/negative underflow bin (it sorts
      // first, exactly like Int.MinValue in the sorted bin array). The
      // only float risk is ln() differing at an exact bucket boundary
      // (ratio within ~1e-13 of an integer) — measure-zero for price
      // data, and a wrong bucket would shift the quantile 2% and fail
      // loudly, not silently.
      Some("""WITH v AS (
             | SELECT l_returnflag,
             |  CASE WHEN NOT (l_extendedprice > 0.0) THEN -2147483648
             |       ELSE CAST(floor(ln(l_extendedprice) / ln(1.02)) AS INT) END AS bin
             | FROM lineitem WHERE NOT isnan(l_extendedprice)),
             |h AS (SELECT l_returnflag, bin, count(1) AS c FROM v GROUP BY 1, 2),
             |t AS (SELECT l_returnflag, sum(c) AS total FROM h GROUP BY 1),
             |cum AS (
             | SELECT l_returnflag, bin, c,
             |  sum(c) OVER (PARTITION BY l_returnflag ORDER BY bin
             |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS acc
             | FROM h),
             |pick AS (
             | SELECT c.l_returnflag, q.q,
             |  min(CASE WHEN c.bin = -2147483648 THEN 0.0
             |           ELSE exp((c.bin + 0.5) * ln(1.02)) END) AS val
             | FROM cum c
             | JOIN t ON c.l_returnflag = t.l_returnflag
             | CROSS JOIN (SELECT unnest([0.5, 0.95, 0.99]) AS q) q
             | WHERE c.acc >= greatest(1, CAST(ceil(q.q * t.total) AS BIGINT))
             |   AND c.acc - c.c < greatest(1, CAST(ceil(q.q * t.total) AS BIGINT))
             | GROUP BY 1, 2)
             |SELECT l_returnflag,
             | round(max(CASE WHEN q = 0.5 THEN val END), 4) AS p50,
             | round(max(CASE WHEN q = 0.95 THEN val END), 4) AS p95,
             | round(max(CASE WHEN q = 0.99 THEN val END), 4) AS p99
             |FROM pick GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_dq_expectations" -> Q(
      qDqExpectations,
      Some(s"""WITH ev AS (
              | SELECT count(1) AS n,
              |  CAST(sum(CASE WHEN ts IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_ts_null,
              |  CAST(sum(CASE WHEN value IS NULL OR value < 0.0 THEN 1 ELSE 0 END) AS BIGINT) AS v_value_neg,
              |  CAST(sum(CASE WHEN event_type NOT IN ('view','click','purchase','signup','error') THEN 1 ELSE 0 END) AS BIGINT) AS v_bad_type,
              |  count(1) - count(DISTINCT event_id) AS v_dup_id
              | FROM $EV),
              |dx AS (
              | SELECT count(1) AS n,
              |  CAST(sum(CASE WHEN text IS NULL OR length(text) = 0 THEN 1 ELSE 0 END) AS BIGINT) AS v_empty_text,
              |  CAST(sum(CASE WHEN lang NOT IN ('en','de','fr','es','zh') THEN 1 ELSE 0 END) AS BIGINT) AS v_bad_lang,
              |  CAST(sum(CASE WHEN n_chars <> length(text) THEN 1 ELSE 0 END) AS BIGINT) AS v_len_drift,
              |  count(1) - count(DISTINCT doc_id) AS v_dup_id
              | FROM documents),
              |rows_ AS (
              | SELECT 'events' AS tbl, 'ts_not_null' AS expectation, v_ts_null AS n_violations, n AS n_rows FROM ev
              | UNION ALL SELECT 'events', 'value_non_negative', v_value_neg, n FROM ev
              | UNION ALL SELECT 'events', 'event_type_in_domain', v_bad_type, n FROM ev
              | UNION ALL SELECT 'events', 'event_id_unique', v_dup_id, n FROM ev
              | UNION ALL SELECT 'documents', 'text_not_empty', v_empty_text, n FROM dx
              | UNION ALL SELECT 'documents', 'lang_in_domain', v_bad_lang, n FROM dx
              | UNION ALL SELECT 'documents', 'n_chars_matches_text', v_len_drift, n FROM dx
              | UNION ALL SELECT 'documents', 'doc_id_unique', v_dup_id, n FROM dx)
              |SELECT tbl, expectation, n_violations, n_rows,
              | n_violations = 0 AS pass
              |FROM rows_ ORDER BY tbl, expectation""".stripMargin)),
    "q_events_rfm" -> Q(
      qEventsRfm,
      Some(s"""WITH pu AS (
              | SELECT user_id, max(CAST(ts AS DATE)) AS last_day, count(1) AS freq,
              |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS monetary
              | FROM $EV GROUP BY user_id),
              |refs AS (
              | SELECT max(last_day) AS ref_day, avg(freq) AS avg_f,
              |  CAST(sum(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) / count(monetary) AS avg_m
              | FROM pu),
              |scored AS (
              | SELECT CASE WHEN datediff('day', last_day, ref_day) <= 3 THEN 3
              |             WHEN datediff('day', last_day, ref_day) <= 10 THEN 2 ELSE 1 END AS r,
              |        CASE WHEN freq >= avg_f * 1.02 THEN 3
              |             WHEN freq >= avg_f THEN 2 ELSE 1 END AS f,
              |        CASE WHEN monetary >= avg_m * 1.02 THEN 3
              |             WHEN monetary >= avg_m THEN 2 ELSE 1 END AS m,
              |        monetary
              | FROM pu, refs)
              |SELECT r, f, m, count(1) AS n_users,
              | CAST(sum(CAST(monetary AS DECIMAL(18,6))) AS DOUBLE) AS total_value
              |FROM scored GROUP BY r, f, m ORDER BY r, f, m""".stripMargin)),
    "q_layout_hilbert" -> Q(qLayoutHilbert, Some(hilbertOracleSql)),
    "q_layout_zorder" -> Q(
      qLayoutZorder,
      Some("""WITH b AS (
             | SELECT min(o_custkey) AS ck0, max(o_custkey) AS ck1,
             |        min(o_orderdate) AS d0, max(o_orderdate) AS d1
             | FROM orders),
             |n AS (
             | SELECT o_orderkey,
             |  ((o_custkey - ck0) * 65535) // (ck1 - ck0) AS x,
             |  (datediff('day', d0, o_orderdate) * 65535) // datediff('day', d0, d1) AS y
             | FROM orders, b),
             |s1 AS (SELECT o_orderkey, ((x | (x << 8)) & 16711935) AS x,
             |                          ((y | (y << 8)) & 16711935) AS y FROM n),
             |s2 AS (SELECT o_orderkey, ((x | (x << 4)) & 252645135) AS x,
             |                          ((y | (y << 4)) & 252645135) AS y FROM s1),
             |s3 AS (SELECT o_orderkey, ((x | (x << 2)) & 858993459) AS x,
             |                          ((y | (y << 2)) & 858993459) AS y FROM s2),
             |s4 AS (SELECT o_orderkey, ((x | (x << 1)) & 1431655765) AS x,
             |                          ((y | (y << 1)) & 1431655765) AS y FROM s3)
             |SELECT o_orderkey, x * 2 + y AS zval FROM s4
             |ORDER BY zval, o_orderkey""".stripMargin)),
    "q_privacy_dp_count" -> Q(
      qPrivacyDpCount,
      Some("""WITH c AS (
             | SELECT n_name, count(1) AS n_true
             | FROM customer JOIN nation ON c_nationkey = n_nationkey
             | GROUP BY 1),
             |d AS (
             | SELECT n_name, n_true,
             |  CAST(('0x' || substr(md5(n_name), 1, 10))::UBIGINT AS BIGINT) AS h
             | FROM c),
             |nz AS (
             | SELECT n_name, n_true,
             |  CASE WHEN h >= 549755813888 THEN 1 ELSE -1 END *
             |  2 * (27725887 - CAST(round(ln(greatest(1, 1099511627776 - 2 * abs(h - 549755813888))) * 1e6, 0) AS BIGINT)) AS noise_micro
             | FROM d)
             |SELECT n_name, n_true,
             | CAST(n_true * 1000000 + noise_micro AS DOUBLE) / 1e6 AS noised
             |FROM nz ORDER BY n_name""".stripMargin)),
    "q_privacy_kanon" -> Q(
      qPrivacyKanon,
      Some("""SELECT lang, source, count(1) AS class_size
             |FROM documents GROUP BY lang, source
             |HAVING count(1) < 5 ORDER BY lang, source""".stripMargin)),
    "q_events_cdc_latest" -> Q(
      qEventsCdcLatest,
      Some(s"""WITH r AS (
              | SELECT user_id, ts, event_id, event_type, value,
              |  row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn,
              |  count(1) OVER (PARTITION BY user_id) AS n_changes
              | FROM $EV)
              |SELECT user_id, ts, event_id, event_type, value, n_changes
              |FROM r WHERE rn = 1 ORDER BY user_id""".stripMargin)),
    "q_user_erasure" -> Q(
      qUserErasure,
      Some(s"""WITH e AS (SELECT c_custkey AS k FROM customer WHERE c_custkey % 97 = 0)
              |SELECT * FROM (
              | SELECT 'customer' AS tbl, count(1) AS n_rows,
              |        count(DISTINCT c_custkey) AS n_users
              | FROM customer WHERE c_custkey IN (SELECT k FROM e)
              | UNION ALL
              | SELECT 'events', count(1), count(DISTINCT user_id)
              | FROM $EV WHERE user_id IN (SELECT k FROM e)
              | UNION ALL
              | SELECT 'orders', count(1), count(DISTINCT o_custkey)
              | FROM orders WHERE o_custkey IN (SELECT k FROM e))
              |ORDER BY tbl""".stripMargin)),
    "q_events_wau" -> Q(
      qEventsWau,
      Some(s"""WITH days AS (
              | SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM $EV),
              |dau AS (SELECT d, count(1) AS dau FROM days GROUP BY d),
              |con AS (
              | SELECT DISTINCT user_id, d + CAST(off.off AS INT) AS d
              | FROM days, (SELECT unnest(generate_series(0, 6)) AS off) off),
              |wau AS (SELECT d, count(1) AS wau FROM con GROUP BY d)
              |SELECT dau.d, dau.dau, wau.wau
              |FROM dau JOIN wau USING (d) ORDER BY d""".stripMargin)),
    "q_events_transitions" -> Q(
      qEventsTransitions,
      Some(s"""WITH t AS (
              | SELECT event_type AS from_type,
              |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
              | FROM $EV)
              |SELECT from_type, to_type, count(1) AS n FROM t
              |WHERE to_type IS NOT NULL
              |GROUP BY 1, 2 ORDER BY from_type, to_type""".stripMargin)),
    "q_events_lifecycle" -> Q(
      qEventsLifecycle,
      Some(s"""WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM $EV),
              |st AS (
              | SELECT user_id, d, lag(d) OVER (PARTITION BY user_id ORDER BY d) AS prev
              | FROM act),
              |cls AS (
              | SELECT d, CASE WHEN prev IS NULL THEN 'new'
              |                WHEN d - prev <= 7 THEN 'retained'
              |                ELSE 'resurrected' END AS status
              | FROM st),
              |sc AS (SELECT d, status, count(1) AS n FROM cls GROUP BY 1, 2),
              |span AS (SELECT min(d) AS d0, max(d) AS d1 FROM act),
              |mc AS (SELECT prev + 8 AS d FROM st WHERE prev IS NOT NULL AND d - prev > 7),
              |la AS (SELECT user_id, max(d) AS last_d FROM st GROUP BY 1),
              |tc AS (SELECT last_d + 8 AS d FROM la, span WHERE last_d + 8 <= d1),
              |cc AS (SELECT d, CAST(count(1) AS BIGINT) AS n_churned
              |       FROM (SELECT d FROM mc UNION ALL SELECT d FROM tc) GROUP BY 1),
              |grid AS (
              | SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP), CAST(d1 AS TIMESTAMP),
              |                                    INTERVAL 1 DAY)) AS DATE) AS d
              | FROM span),
              |wide AS (
              | SELECT d,
              |  CAST(coalesce(sum(CASE WHEN status = 'new' THEN n END), 0) AS BIGINT) AS n_new,
              |  CAST(coalesce(sum(CASE WHEN status = 'retained' THEN n END), 0) AS BIGINT) AS n_retained,
              |  CAST(coalesce(sum(CASE WHEN status = 'resurrected' THEN n END), 0) AS BIGINT) AS n_resurrected
              | FROM sc GROUP BY 1)
              |SELECT g.d,
              | CAST(coalesce(w.n_new, 0) AS BIGINT) AS n_new,
              | CAST(coalesce(w.n_retained, 0) AS BIGINT) AS n_retained,
              | CAST(coalesce(w.n_resurrected, 0) AS BIGINT) AS n_resurrected,
              | CAST(coalesce(cc.n_churned, 0) AS BIGINT) AS n_churned
              |FROM grid g LEFT JOIN wide w ON w.d = g.d LEFT JOIN cc ON cc.d = g.d
              |ORDER BY g.d""".stripMargin)),
    "q_events_streaks" -> Q(
      qEventsStreaks,
      Some(s"""WITH t AS (
              | SELECT user_id, event_type,
              |  row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
              |   - row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts, event_id) AS grp
              | FROM $EV),
              |isl AS (
              | SELECT user_id, event_type, grp, count(1) AS len
              | FROM t GROUP BY 1, 2, 3),
              |pu AS (
              | SELECT user_id, event_type, CAST(max(len) AS BIGINT) AS best
              | FROM isl GROUP BY 1, 2),
              |mb AS (
              | SELECT *, max(best) OVER (PARTITION BY event_type) AS mb FROM pu)
              |SELECT event_type, CAST(max(best) AS BIGINT) AS max_streak,
              | min(CASE WHEN best = mb THEN user_id END) AS holder,
              | CAST(sum(CASE WHEN best >= 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_users_streak3
              |FROM mb GROUP BY 1 ORDER BY event_type""".stripMargin)),
    "q_events_markov" -> Q(
      qEventsMarkov,
      Some {
        // 20 generated fixed-point iterations (the q_embed_pca unrolled
        // schedule); HUGEINT keeps pq·n·2 exact at any count scale
        val steps = (1 to 20)
          .map { i =>
            s"""p$i AS (SELECT c.to_type AS event_type,
               | CAST(sum((CAST(p.pq AS HUGEINT) * c.n * 2 + r.ni) // (r.ni * 2)) AS BIGINT) AS pq
               | FROM p${i - 1} p JOIN cells c ON c.from_type = p.event_type
               | JOIN rs r ON r.from_type = c.from_type
               | GROUP BY 1)""".stripMargin
          }
          .mkString(",\n")
        s"""WITH t AS (
           | SELECT user_id, event_type AS from_type,
           |  lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_type
           | FROM $EV),
           |cnt AS (SELECT from_type, to_type, count(1) AS n FROM t
           |        WHERE to_type IS NOT NULL GROUP BY 1, 2),
           |ty AS (SELECT DISTINCT event_type FROM $EV),
           |dang AS (SELECT event_type AS from_type, event_type AS to_type, CAST(1 AS BIGINT) AS n
           |         FROM ty WHERE event_type NOT IN (SELECT from_type FROM cnt)),
           |cells AS (SELECT from_type, to_type, CAST(n AS BIGINT) AS n FROM cnt
           |          UNION ALL SELECT * FROM dang),
           |rs AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS ni FROM cells GROUP BY 1),
           |kk AS (SELECT count(1) AS k FROM ty),
           |p0 AS (SELECT event_type, CAST(1000000000000 // kk.k AS BIGINT) AS pq FROM ty, kk),
           |$steps
           |SELECT ty.event_type, COALESCE(p20.pq, 0) AS stationary_micro,
           | CAST(COALESCE(p20.pq, 0) AS DOUBLE) / 1e12 AS stationary
           |FROM ty LEFT JOIN p20 ON p20.event_type = ty.event_type
           |ORDER BY ty.event_type""".stripMargin
      }),
    "q_seq_mining" -> Q(
      qSeqMining,
      Some(s"""WITH t AS (
              | SELECT user_id, event_type AS e1,
              |  lead(event_type, 1) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e2,
              |  lead(event_type, 2) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS e3
              | FROM $EV)
              |SELECT e1, e2, e3, count(1) AS n_occ,
              | CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
              |FROM t WHERE e2 IS NOT NULL AND e3 IS NOT NULL
              |GROUP BY 1, 2, 3 HAVING count(DISTINCT user_id) >= 2
              |ORDER BY n_users DESC, n_occ DESC, e1, e2, e3""".stripMargin)),
    "q_agg_bitmap_distinct" -> Q(
      qAggBitmapDistinct,
      Some(s"""SELECT event_type,
              | count(DISTINCT user_id) AS n_users,
              | count(DISTINCT CAST(ts AS DATE)) AS n_days
              |FROM $EV GROUP BY event_type ORDER BY event_type""".stripMargin)),
    "q_events_cohort_ltv" -> Q(
      qEventsCohortLtv,
      Some(s"""WITH ev AS (
              | SELECT user_id, CAST(ts AS DATE) AS d, event_type, value FROM $EV),
              |firsts AS (SELECT user_id, min(d) AS cohort FROM ev GROUP BY user_id),
              |daily AS (
              | SELECT f.cohort, datediff('day', f.cohort, e.d) AS day_offset,
              |  CAST(sum(CAST(round(e.value * 100, 0) AS BIGINT)) AS BIGINT) AS day_cents
              | FROM ev e JOIN firsts f USING (user_id)
              | WHERE e.event_type = 'purchase' GROUP BY 1, 2)
              |SELECT cohort, day_offset,
              | CAST(day_cents AS DOUBLE) / 100 AS day_value,
              | CAST(CAST(sum(day_cents) OVER (PARTITION BY cohort ORDER BY day_offset
              |           ROWS UNBOUNDED PRECEDING) AS BIGINT) AS DOUBLE) / 100 AS ltv
              |FROM daily ORDER BY cohort, day_offset""".stripMargin)),
    "q_events_retention" -> Q(
      qEventsRetention,
      Some(s"""WITH days AS (
              | SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM $EV),
              |firsts AS (SELECT user_id, min(d) AS cohort FROM days GROUP BY user_id),
              |sizes AS (SELECT cohort, count(1) AS cohort_size FROM firsts GROUP BY cohort),
              |act AS (
              | SELECT f.cohort, datediff('day', f.cohort, d.d) AS day_offset,
              |        count(1) AS n_active
              | FROM days d JOIN firsts f USING (user_id) GROUP BY 1, 2)
              |SELECT a.cohort, a.day_offset, a.n_active, s.cohort_size
              |FROM act a JOIN sizes s USING (cohort)
              |ORDER BY cohort, day_offset""".stripMargin)),
    "q_events_survival" -> Q(
      qEventsSurvival,
      Some(s"""WITH life AS (
              | SELECT CAST(datediff('day', min(CAST(ts AS DATE)), max(CAST(ts AS DATE))) AS INT) AS day
              | FROM $EV GROUP BY user_id),
              |churn AS (SELECT day, count(1) AS n_churn FROM life GROUP BY day),
              |t AS (SELECT CAST(sum(n_churn) AS BIGINT) AS n_total FROM churn),
              |risk AS (
              | SELECT day, n_churn,
              |  n_total - coalesce(CAST(sum(n_churn) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk
              | FROM churn, t),
              |terms AS (
              | SELECT day, n_risk, n_churn,
              |  CASE WHEN n_risk > n_churn THEN
              |   CAST(round(ln(n_risk - n_churn) * 1e6, 0) AS BIGINT) - CAST(round(ln(n_risk) * 1e6, 0) AS BIGINT)
              |  END AS ln_term
              | FROM risk)
              |SELECT day, n_risk, n_churn,
              | CAST(n_churn AS DOUBLE) / n_risk AS hazard,
              | CASE WHEN ln_term IS NOT NULL THEN
              |  CAST(sum(ln_term) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 1e6
              | END AS log_surv
              |FROM terms ORDER BY day""".stripMargin)),
    "q_events_funnel" -> Q(
      qEventsFunnel,
      Some(s"""WITH f AS (
              | SELECT user_id,
              |  min(CASE WHEN event_type = 'view' THEN ts END) AS t_view,
              |  min(CASE WHEN event_type = 'click' THEN ts END) AS t_click,
              |  min(CASE WHEN event_type = 'purchase' THEN ts END) AS t_purchase
              | FROM $EV GROUP BY 1),
              |s AS (
              | SELECT user_id,
              |  CAST(t_view IS NOT NULL AS INT) AS s1,
              |  CAST(t_view IS NOT NULL AND t_click > t_view AS INT) AS s2,
              |  CAST(t_view IS NOT NULL AND t_click > t_view AND t_purchase > t_click AS INT) AS s3
              | FROM f)
              |SELECT CAST(sum(s1) AS BIGINT) AS n_view, CAST(sum(s2) AS BIGINT) AS n_view_click,
              | CAST(sum(s3) AS BIGINT) AS n_full_funnel, count(1) AS n_users
              |FROM s""".stripMargin)),
    "q_table_checksum" -> Q(
      qTableChecksum,
      Some("""SELECT o_orderkey % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', o_orderkey, o_custkey, o_orderstatus, o_orderpriority)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_io_jsonl_roundtrip" -> Q(
      qIoJsonlRoundtrip,
      Some("""SELECT doc_id % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_io_orc_roundtrip" -> Q(
      qIoOrcRoundtrip,
      Some("""SELECT doc_id % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_io_csv_roundtrip" -> Q(
      qIoCsvRoundtrip,
      Some("""SELECT doc_id % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_io_xml_roundtrip" -> Q(
      qIoXmlRoundtrip,
      Some("""SELECT doc_id % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_io_partitioned_prune" -> Q(
      qIoPartitionedPrune,
      Some("""SELECT doc_id % 32 AS bucket, count(1) AS n_rows,
             | CAST(sum(CAST(('0x' || substr(md5(concat_ws('|', doc_id, text, lang, source, n_chars)), 1, 15))::BIGINT % 1000000007 AS BIGINT)) AS BIGINT) AS checksum
             |FROM documents WHERE lang IN ('en', 'zh') GROUP BY 1 ORDER BY 1""".stripMargin)),
    "q_text_unigram_nll" -> Q(qTextUnigramNll, Some(UnigramNllSql)),
    "q_text_ppl_buckets" -> Q(
      qTextPplBuckets,
      Some(s"""SELECT CASE WHEN b = 1 THEN 'head' WHEN b = 2 THEN 'middle' ELSE 'tail' END AS bucket,
              | count(1) AS n_docs, min(nll) AS min_nll, max(nll) AS max_nll,
              | round(CAST(sum(CAST(round(nll * 1e6, 0) AS BIGINT)) AS DOUBLE) / count(1) / 1e6, 6) AS mean_nll
              |FROM (SELECT doc_id, nll, ntile(3) OVER (ORDER BY nll, doc_id) AS b
              |      FROM ($UnigramNllSql) s)
              |GROUP BY b ORDER BY bucket""".stripMargin)),
    "q_join_salted" -> Q(
      qJoinSalted,
      Some(s"""SELECT c.c_mktsegment, count(1) AS n_events,
              | CAST(sum(CAST(e.value AS DECIMAL(18,6))) AS DOUBLE) AS sum_value
              |FROM $EV e JOIN customer c ON e.user_id = c.c_custkey
              |GROUP BY 1 ORDER BY c_mktsegment""".stripMargin)),
    "q_text_bigram_nll" -> Q(
      qTextBigramNll,
      Some(s"""WITH sp AS (SELECT doc_id, CASE WHEN ((doc_id % 2147483648) * 40503) % 100 < 80 THEN 'train'
              |        WHEN ((doc_id % 2147483648) * 40503) % 100 < 90 THEN 'val' ELSE 'test' END AS split FROM documents),
              |bi AS (
              | SELECT doc_id, toks[i] || ' ' || toks[i + 1] AS bg, toks[i] AS w1
              | FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
              |       FROM $DOCS_T WHERE len(toks) >= 2)),
              |cbg AS (SELECT bg, count(1) AS cbg FROM bi JOIN sp USING (doc_id)
              |        WHERE split = 'train' GROUP BY 1),
              |uni AS (SELECT tok AS w1, count(1) AS c1
              |        FROM (SELECT doc_id, unnest(toks) AS tok FROM $DOCS_T) t
              |        JOIN sp USING (doc_id) WHERE split = 'train' GROUP BY 1),
              |vv AS (SELECT count(1) AS v FROM uni),
              |scored AS (
              | SELECT b.doc_id AS doc_id,
              |  CAST(round(ln(coalesce(cbg.cbg, 0) + 1.0) * 1e6, 0) AS BIGINT)
              |   - CAST(round(ln(CAST(coalesce(uni.c1, 0) + vv.v AS DOUBLE)) * 1e6, 0) AS BIGINT) AS lp
              | FROM bi b LEFT JOIN cbg USING (bg) LEFT JOIN uni USING (w1) CROSS JOIN vv)
              |SELECT s.doc_id AS doc_id, sp.split, count(1) AS n_bigrams,
              | -(CAST(sum(s.lp) AS DOUBLE) / 1e6) / count(1) AS nll
              |FROM scored s JOIN sp ON s.doc_id = sp.doc_id
              |GROUP BY 1, 2 ORDER BY doc_id""".stripMargin)),
    "q_text_collocations" -> Q(
      qTextCollocations,
      Some(s"""WITH bi AS (
              | SELECT toks[i] AS w1, toks[i + 1] AS w2
              | FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
              |       FROM $DOCS_T WHERE len(toks) >= 2)),
              |cbg AS (SELECT w1, w2, count(1) AS c_ab FROM bi GROUP BY 1, 2),
              |uni AS (SELECT tok, count(1) AS c
              |        FROM (SELECT unnest(toks) AS tok FROM $DOCS_T) GROUP BY 1),
              |nbt AS (SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM cbg),
              |nut AS (SELECT CAST(sum(c) AS BIGINT) AS nu FROM uni)
              |SELECT b.w1, b.w2, b.c_ab, ua.c AS c_a, ub.c AS c_b,
              | CAST(CAST(round(ln(CAST(b.c_ab AS DOUBLE)) * 1e6, 0) AS BIGINT)
              |   - CAST(round(ln(CAST(nbt.nb AS DOUBLE)) * 1e6, 0) AS BIGINT)
              |   - CAST(round(ln(CAST(ua.c AS DOUBLE)) * 1e6, 0) AS BIGINT)
              |   - CAST(round(ln(CAST(ub.c AS DOUBLE)) * 1e6, 0) AS BIGINT)
              |   + 2 * CAST(round(ln(CAST(nut.nu AS DOUBLE)) * 1e6, 0) AS BIGINT) AS DOUBLE)
              |  / 1e6 AS pmi
              |FROM cbg b JOIN uni ua ON b.w1 = ua.tok JOIN uni ub ON b.w2 = ub.tok
              |CROSS JOIN nbt CROSS JOIN nut
              |WHERE b.c_ab >= 5
              |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin)),
    "q_topk_approx" -> Q(
      qTopkApprox,
      Some(s"""WITH toks AS (
              | SELECT unnest(toks) AS tok FROM $DOCS_T),
              |c AS (SELECT tok, count(1) AS cnt FROM toks GROUP BY 1)
              |SELECT tok, cnt FROM c ORDER BY cnt DESC, tok LIMIT 20""".stripMargin)),
    // the oracle's window position pick replays the lower median the
    // radix loop pins; cents from the certified round(x*100,0) pattern
    "q_agg_median_radix" -> Q(
      qAggMedianRadix,
      Some("""WITH c AS (
             | SELECT l_returnflag AS grp,
             |  CAST(round(l_extendedprice * 100, 0) AS BIGINT) AS v
             | FROM lineitem),
             |n AS (SELECT grp, count(1) AS n_rows FROM c GROUP BY grp),
             |r AS (SELECT grp, v,
             |       row_number() OVER (PARTITION BY grp ORDER BY v) AS rn
             |      FROM c)
             |SELECT r.grp AS grp, n.n_rows, r.v AS median_cents,
             | CAST(r.v AS DOUBLE) / 100 AS median
             |FROM r JOIN n USING (grp)
             |WHERE rn = (n_rows + 1) // 2 ORDER BY grp""".stripMargin)),
    "q_agg_mode" -> Q(
      qAggMode,
      Some("""WITH c AS (
             | SELECT l_returnflag, l_quantity, count(1) AS cnt
             | FROM lineitem GROUP BY 1, 2),
             |r AS (
             | SELECT l_returnflag, l_quantity, cnt,
             |  row_number() OVER (PARTITION BY l_returnflag ORDER BY cnt DESC, l_quantity ASC) AS rn
             | FROM c)
             |SELECT l_returnflag, l_quantity AS mode_qty, cnt AS n_mode
             |FROM r WHERE rn = 1 ORDER BY l_returnflag""".stripMargin)),
    "q_fn_bitwise" -> Q(
      qFnBitwise,
      Some("""SELECT o_orderkey,
             | o_orderkey & 255 AS b_and, o_orderkey | 4096 AS b_or,
             | xor(o_orderkey, 1535) AS b_xor,
             | o_orderkey << 2 AS b_shl, o_orderkey >> 3 AS b_shr,
             | CAST(bit_count(o_orderkey) AS INT) AS b_cnt
             |FROM orders ORDER BY o_orderkey""".stripMargin)),
    "q_sample_stratified" -> Q(
      qSampleStratified,
      Some("""WITH h AS (
             | SELECT doc_id, lang, md5(text) AS h,
             |  CAST(row_number() OVER (PARTITION BY lang ORDER BY md5(text), doc_id) AS INT) AS rk
             | FROM documents)
             |SELECT lang, rk, doc_id, h FROM h WHERE rk <= 20
             |ORDER BY lang, rk""".stripMargin)),
    "q_mix_sources" -> Q(
      qMixSources,
      Some("""SELECT source, count(1) AS n_kept FROM documents
             |WHERE CAST(('0x' || substr(md5(text), 1, 2))::INT AS INT) <
             |  CASE WHEN CAST(regexp_extract(source, '([0-9]+)$', 1) AS INT) % 2 = 0
             |       THEN 256 ELSE 64 END
             |GROUP BY 1 ORDER BY source""".stripMargin)),
    "q_agg_kmv_distinct" -> Q(
      qAggKmvDistinct,
      Some(s"""WITH uh AS (
              | SELECT DISTINCT event_type,
              |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
              | FROM $EV),
              |kept AS (
              | SELECT event_type, h, rank() OVER (PARTITION BY event_type ORDER BY h) AS rn FROM uh),
              |pt AS (SELECT event_type AS scope, count(1) AS k_used, CAST(max(h) AS BIGINT) AS kth_hash
              |       FROM kept WHERE rn <= 32 GROUP BY 1),
              |ex AS (SELECT event_type AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct
              |       FROM $EV GROUP BY 1),
              |ua AS (SELECT h FROM (SELECT DISTINCT
              |        CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
              |       FROM $EV) ORDER BY h LIMIT 32),
              |un AS (SELECT 'ALL' AS scope, count(1) AS k_used, CAST(max(h) AS BIGINT) AS kth_hash FROM ua),
              |exa AS (SELECT 'ALL' AS scope, CAST(count(DISTINCT user_id) AS BIGINT) AS exact_distinct FROM $EV),
              |allr AS (SELECT p.scope, CAST(p.k_used AS BIGINT) AS k_used, p.kth_hash, e.exact_distinct
              |         FROM pt p JOIN ex e USING (scope)
              |         UNION ALL
              |         SELECT u.scope, CAST(u.k_used AS BIGINT), u.kth_hash, x.exact_distinct
              |         FROM un u JOIN exa x USING (scope)),
              |withe AS (
              | SELECT scope, k_used, kth_hash,
              |  CASE WHEN k_used < 32 THEN CAST(k_used AS DOUBLE)
              |       ELSE CAST(31 AS DOUBLE) * 1152921504606846976.0 / CAST(kth_hash AS DOUBLE)
              |  END AS est_distinct,
              |  exact_distinct
              | FROM allr)
              |SELECT scope, k_used, kth_hash, est_distinct, exact_distinct,
              | (est_distinct - CAST(exact_distinct AS DOUBLE)) / CAST(exact_distinct AS DOUBLE) AS rel_err
              |FROM withe ORDER BY scope""".stripMargin)),
    "q_agg_kmv_intersect" -> Q(
      qAggKmvIntersect,
      Some(s"""WITH uh AS (
              | SELECT DISTINCT event_type,
              |  CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::UBIGINT AS BIGINT) AS h
              | FROM $EV),
              |kept AS (
              | SELECT event_type AS et, h FROM (
              |  SELECT event_type, h, rank() OVER (PARTITION BY event_type ORDER BY h) AS rn
              |  FROM uh) WHERE rn <= 32),
              |tp AS (SELECT a.et AS ta, b.et AS tb
              |       FROM (SELECT DISTINCT et FROM kept) a, (SELECT DISTINCT et FROM kept) b
              |       WHERE a.et < b.et),
              |uu AS (SELECT DISTINCT ta, tb, h FROM (
              |  SELECT tp.ta, tp.tb, kept.h FROM tp JOIN kept ON kept.et = tp.ta
              |  UNION ALL
              |  SELECT tp.ta, tp.tb, kept.h FROM tp JOIN kept ON kept.et = tp.tb)),
              |th AS (SELECT ta, tb, CAST(count(1) AS BIGINT) AS ku, CAST(max(h) AS BIGINT) AS theta
              |       FROM (SELECT ta, tb, h, rank() OVER (PARTITION BY ta, tb ORDER BY h) AS rn
              |             FROM uu)
              |       WHERE rn <= 32 GROUP BY 1, 2),
              |cm AS (SELECT a.et AS ta, b.et AS tb, a.h
              |       FROM kept a JOIN kept b ON a.h = b.h AND a.et < b.et),
              |cc AS (SELECT th.ta, th.tb, th.ku, th.theta, CAST(count(cm.h) AS BIGINT) AS c
              |       FROM th LEFT JOIN cm ON cm.ta = th.ta AND cm.tb = th.tb AND cm.h <= th.theta
              |       GROUP BY 1, 2, 3, 4),
              |ex0 AS (SELECT DISTINCT user_id, event_type FROM $EV),
              |exp0 AS (SELECT a.event_type AS ta, b.event_type AS tb,
              |         CAST(count(1) AS BIGINT) AS exact_intersect
              |        FROM ex0 a JOIN ex0 b ON a.user_id = b.user_id
              |         AND a.event_type < b.event_type
              |        GROUP BY 1, 2),
              |fin AS (
              | SELECT cc.ta AS type_a, cc.tb AS type_b, cc.ku AS k_used_union, cc.c AS c_common,
              |  CASE WHEN cc.ku < 32 THEN CAST(cc.c AS DOUBLE)
              |       ELSE CAST(cc.c AS DOUBLE) / 32.0
              |        * (CAST(31 AS DOUBLE) * 1152921504606846976.0 / CAST(cc.theta AS DOUBLE))
              |  END AS est_intersect,
              |  CAST(coalesce(exp0.exact_intersect, 0) AS BIGINT) AS exact_intersect
              | FROM cc LEFT JOIN exp0 ON exp0.ta = cc.ta AND exp0.tb = cc.tb)
              |SELECT type_a, type_b, k_used_union, c_common, est_intersect, exact_intersect,
              | est_intersect - CAST(exact_intersect AS DOUBLE) AS abs_err
              |FROM fin ORDER BY type_a, type_b""".stripMargin)),
    "q_agg_count_min" -> Q(
      qAggCountMin,
      Some(s"""SELECT tok, count(1) AS n
              |FROM (SELECT unnest(toks) AS tok FROM $DOCS_T)
              |GROUP BY tok ORDER BY tok""".stripMargin)),
    "q_join_scd2_pit" -> Q(
      qJoinScd2Pit,
      Some(s"""WITH dim AS (
              | SELECT user_id, event_id AS dim_event_id, ts AS valid_from, value AS dim_value,
              |  lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to
              | FROM $EV WHERE event_type = 'view'),
              |f AS (SELECT user_id, event_id, ts, value FROM $EV WHERE event_type = 'purchase')
              |SELECT f.event_id, f.user_id, f.ts, f.value,
              |       d.dim_event_id, d.dim_value, d.valid_from
              |FROM f LEFT JOIN dim d ON f.user_id = d.user_id
              | AND d.valid_from <= f.ts AND (d.valid_to IS NULL OR f.ts < d.valid_to)
              |ORDER BY f.event_id""".stripMargin)),
    "q_events_anomaly" -> Q(
      qEventsAnomaly,
      Some(s"""WITH daily AS (
              | SELECT event_type, CAST(ts AS DATE) AS day, count(1) AS n
              | FROM $EV GROUP BY 1, 2),
              |st AS (
              | SELECT event_type, count(1) AS n_days, sum(n) AS sx, sum(n * n) AS sxx
              | FROM daily GROUP BY 1),
              |sc AS (
              | SELECT d.event_type, d.day, d.n,
              |  CAST(st.sx AS DOUBLE) / CAST(st.n_days AS DOUBLE) AS mean,
              |  greatest(CAST(st.sxx AS DOUBLE) / CAST(st.n_days AS DOUBLE)
              |    - (CAST(st.sx AS DOUBLE) / CAST(st.n_days AS DOUBLE))
              |      * (CAST(st.sx AS DOUBLE) / CAST(st.n_days AS DOUBLE)), 0.0) AS var
              | FROM daily d JOIN st USING (event_type))
              |SELECT event_type, day, n,
              | CASE WHEN var > 0
              |      THEN round((CAST(n AS DOUBLE) - mean) / sqrt(var), 6)
              |      ELSE 0.0 END AS z,
              | abs(CASE WHEN var > 0
              |      THEN round((CAST(n AS DOUBLE) - mean) / sqrt(var), 6)
              |      ELSE 0.0 END) > 2.0 AS is_anomaly
              |FROM sc ORDER BY event_type, day""".stripMargin)),
    "q_feature_hashing" -> Q(
      qFeatureHashing,
      Some(s"""WITH tc AS (
              | SELECT tok, count(1) AS cnt,
              |  CAST(('0x' || substr(md5(tok), 1, 4))::BIGINT % 64 AS BIGINT) AS dim
              | FROM (SELECT unnest(toks) AS tok FROM $DOCS_T) GROUP BY 1),
              |top AS (
              | SELECT dim, tok AS top_tok, cnt AS top_cnt,
              |  row_number() OVER (PARTITION BY dim ORDER BY cnt DESC, tok DESC) AS rn
              | FROM tc),
              |agg AS (
              | SELECT dim, CAST(sum(cnt) AS BIGINT) AS n_toks, count(1) AS n_distinct
              | FROM tc GROUP BY 1)
              |SELECT a.dim, a.n_toks, a.n_distinct, t.top_tok, t.top_cnt,
              | CAST(t.top_cnt AS DOUBLE) / CAST(a.n_toks AS DOUBLE) AS top_share
              |FROM agg a JOIN top t ON a.dim = t.dim AND t.rn = 1
              |ORDER BY a.dim""".stripMargin)),
    "q_feature_scale" -> Q(
      qFeatureScale,
      Some("""WITH qs AS (
             | SELECT c_mktsegment,
             |  round(quantile_cont(c_acctbal, 0.05), 6) AS lo,
             |  round(quantile_cont(c_acctbal, 0.95), 6) AS hi
             | FROM customer GROUP BY 1)
             |SELECT c_custkey, c.c_mktsegment,
             | CASE WHEN hi > lo
             |      THEN round((least(greatest(c_acctbal, lo), hi) - lo) / (hi - lo), 6)
             |      ELSE 0.5 END AS scaled
             |FROM customer c JOIN qs ON c.c_mktsegment = qs.c_mktsegment
             |ORDER BY c_custkey""".stripMargin)),
    "q_events_ab_srm" -> Q(
      qEventsAbSrm,
      Some(s"""WITH u AS (SELECT DISTINCT user_id FROM $EV),
              |v AS (SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 2 = 0 THEN 'A' ELSE 'B' END AS variant FROM u),
              |c AS (SELECT variant, count(1) AS n FROM v GROUP BY variant),
              |w AS (
              | SELECT CAST(sum(CASE WHEN variant = 'A' THEN n ELSE 0 END) AS BIGINT) AS n_a,
              |  CAST(sum(CASE WHEN variant = 'B' THEN n ELSE 0 END) AS BIGINT) AS n_b
              | FROM c)
              |SELECT n_a, n_b,
              | round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) AS chi2,
              | round(CAST((n_a - n_b) * (n_a - n_b) AS DOUBLE) / (n_a + n_b), 6) > 3.841459 AS srm
              |FROM w""".stripMargin)),
    "q_events_abtest" -> Q(
      qEventsAbtest,
      Some(s"""WITH pu AS (
              | SELECT user_id, sum(CAST(value AS DECIMAL(18,6))) AS spend
              | FROM $EV WHERE event_type = 'purchase' GROUP BY user_id),
              |v AS (
              | SELECT CASE WHEN ((user_id % 2147483648) * 2654435761) % 2 = 0 THEN 'A' ELSE 'B' END AS variant,
              |        CAST(spend AS DECIMAL(19,6)) AS spend
              | FROM pu),
              |agg AS (
              | SELECT variant, count(1) AS n,
              |  CAST(sum(spend) AS DOUBLE) AS sxd,
              |  CAST(sum(spend * spend) AS DOUBLE) AS sxxd
              | FROM v GROUP BY variant),
              |st AS (
              | SELECT variant, n,
              |  round(sxd / CAST(n AS DOUBLE), 6) AS mean_spend,
              |  round((sxxd - sxd * sxd / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1.0), 6) AS var_spend
              | FROM agg),
              |wide AS (
              | SELECT
              |  max(CASE WHEN variant = 'A' THEN n END) AS n_a,
              |  max(CASE WHEN variant = 'B' THEN n END) AS n_b,
              |  max(CASE WHEN variant = 'A' THEN mean_spend END) AS mean_a,
              |  max(CASE WHEN variant = 'B' THEN mean_spend END) AS mean_b,
              |  max(CASE WHEN variant = 'A' THEN var_spend END) AS var_a,
              |  max(CASE WHEN variant = 'B' THEN var_spend END) AS var_b
              | FROM st)
              |SELECT n_a, n_b, mean_a, mean_b,
              | round((mean_a - mean_b) /
              |   sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)), 6) AS t_welch,
              | abs(round((mean_a - mean_b) /
              |   sqrt(var_a / CAST(n_a AS DOUBLE) + var_b / CAST(n_b AS DOUBLE)), 6)) > 1.96 AS significant
              |FROM wide""".stripMargin)),
    "q_join_bloom" -> Q(
      qJoinBloom,
      Some("""SELECT o.o_orderpriority,
             | count(1) AS n_items,
             | CAST(sum(CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
             |FROM lineitem l JOIN (SELECT * FROM orders WHERE o_totalprice > 150000) o
             | ON l.l_orderkey = o.o_orderkey
             |GROUP BY 1 ORDER BY 1""".stripMargin)))
}
