package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.{TextAnalysis, TextFunctions, VectorFunctions}
import graft.operators.{Chunkers, Dedup, Embeddings, Index, Profile, Sampling, Search}
import graft.model.SplitStrategy

/** The probe-query library: every SURVEY.md §2 operator expressed as an
  * idiomatic DataFrame query over the driver fixtures, hash-matched against
  * DuckDB (OracleSql.scala) where SQL-expressible.
  *
  * Determinism discipline (SURVEY.md §2.11 + verified in round 2):
  *   - every query ends in a total ORDER BY;
  *   - double sums go through DECIMAL(18,2) (exact, order-independent);
  *   - float ratio/similarity outputs use FLOOR(x*10^k)/10^k, never round()
  *     (round's tie behavior differs between engines; floor of an identical
  *     double is bit-stable);
  *   - event timestamps compare via unix_micros (Spark reads the fixture's
  *     ns timestamps as long — see Tables.events — DuckDB via epoch_us:
  *     identical integers), outputs via epoch millis;
  *   - no lookbehind regex, no approx functions in oracle-checked queries.
  */
object Queries {

  import Tables._

  // ---- shared determinism helpers (see OracleSql for the DuckDB spellings)
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private def dsum2(c: Column): Column = sum(dec2(c)).cast("double")
  private def fl(c: Column, digits: Int): Column = {
    val p = math.pow(10, digits)
    floor(c * p) / p
  }
  /** events with `us` (µs since epoch, exact parity with DuckDB epoch_us). */
  private def eventsUs(s: SparkSession, dir: String): DataFrame =
    events(s, dir).withColumn("us", unix_micros(col("ts")))

  // ------------------------------------------------------------ relational

  /** Q1 — TPC-H Q1-style pricing summary (P5, A1, F2). */
  def q01PricingSummary(s: SparkSession, dir: String): DataFrame =
    lineitem(s, dir)
      .where(col("l_shipdate") <= to_timestamp(lit("1998-09-01")))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        round(dsum2(col("l_quantity")), 2).as("sum_qty"),
        round(dsum2(col("l_extendedprice")), 2).as("sum_base_price"),
        round(sum(dec2(col("l_extendedprice")) * dec2(lit(1.0) - col("l_discount")))
          .cast("double"), 2).as("sum_disc_price"),
        fl(dsum2(col("l_quantity")) / count(lit(1)), 2).as("avg_qty"),
        fl(dsum2(col("l_extendedprice")) / count(lit(1)), 2).as("avg_price"),
        count(lit(1)).as("n_items"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  /** Q2 — inner equi-join + agg (J1, A1): revenue per market segment.
    * Shape: pre-aggregate orders per custkey BEFORE the join (partial sums
    * are decimal — exact, so re-aggregating per segment is lossless). At
    * scale this joins |customers| pre-aggregated rows instead of |orders|
    * full-width rows.
    */
  def q02MktsegmentRevenue(s: SparkSession, dir: String): DataFrame = {
    val perCust = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(sum(dec2(col("o_totalprice"))).as("cust_rev"), count(lit(1)).as("cust_n"))
    perCust
      .join(customer(s, dir), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(round(sum(col("cust_rev")).cast("double"), 2).as("revenue"),
        sum(col("cust_n")).as("n_orders"))
      .orderBy(col("c_mktsegment"))
  }

  /** Q3 — 3-way join with broadcast dims (J1/J2): customers per region. */
  def q03RegionCustomers(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"))
      .orderBy(col("r_name"))

  /** Q4 — left outer join + COALESCE (J3): per-customer order stats, 0 kept.
    * Shape: aggregate orders per custkey first, THEN left-join — the outer
    * join carries one row per customer instead of one per order.
    */
  def q04CustomerOrdersOuter(s: SparkSession, dir: String): DataFrame = {
    val perCust = orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(count(col("o_orderkey")).as("o_n"), dsum2(col("o_totalprice")).as("o_sum"))
    customer(s, dir)
      .join(perCust, col("c_custkey") === col("o_custkey"), "left_outer")
      .select(col("c_custkey"),
        coalesce(col("o_n"), lit(0L)).as("n_orders"),
        round(coalesce(col("o_sum"), lit(0.0)), 2).as("total_spent"))
      .orderBy(col("c_custkey"))
  }

  /** Q5 — left semi join (J4): customers with any order > 450k. */
  def q05BigSpendersSemi(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(orders(s, dir).where(col("o_totalprice") > 450000.0),
        col("c_custkey") === col("o_custkey"), "left_semi")
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** Q6 — left anti join (J5): customers with no events at all. */
  def q06NoEventsAnti(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(events(s, dir), col("c_custkey") === col("user_id"), "left_anti")
      .select(col("c_custkey"), col("c_mktsegment"))
      .orderBy(col("c_custkey"))

  /** Q7 — non-equi range join (J6): purchases within ±5 min of each error
    * event of users 0-9. µs-integer bounds on both engines.
    */
  def q07EventsRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val errs = ev.where(col("event_type") === "error" && col("user_id") < 10)
      .select(col("event_id").as("err_id"), col("us").as("err_us"))
    val purch = ev.where(col("event_type") === "purchase")
      .select(col("us").as("p_us"), col("value").as("p_value"))
    errs.join(purch,
        col("p_us") >= col("err_us") - 300000000L && col("p_us") <= col("err_us") + 300000000L)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_nearby"),
        round(dsum2(col("p_value")), 2).as("sum_value"))
      .orderBy(col("err_id"))
  }

  /** Q8 — as-of join via the union+window formulation (J7, W2): for each
    * purchase of users 0-19, the latest 'view' value at or before it.
    */
  def q08AsofPurchaseView(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("us"), lit(0).as("is_q"),
        lit(null).cast("long").as("event_id"), col("value"))
    val purch = ev.where(col("event_type") === "purchase" && col("user_id") < 20)
      .select(col("user_id"), col("us"), lit(1).as("is_q"),
        col("event_id"), lit(null).cast("double").as("value"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("us"), col("is_q"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    views.unionByName(purch)
      .withColumn("asof_value", last(col("value"), ignoreNulls = true).over(w))
      .where(col("is_q") === 1 && col("asof_value").isNotNull)
      .select(col("event_id"), col("user_id"), col("asof_value"))
      .orderBy(col("event_id"))
  }

  /** Q9 — distinct + set operations (A2, U1, U2), single summary row. */
  def q09SetOps(s: SparkSession, dir: String): DataFrame = {
    val users = events(s, dir).select(col("user_id").as("k")).distinct()
    val custs = customer(s, dir).select(col("c_custkey").as("k")).distinct()
    val nUsers = events(s, dir).agg(countDistinct(col("user_id")).as("n_users"))
    val nCommon = users.intersect(custs).agg(count(lit(1)).as("n_common"))
    val nUnion = users.union(custs).distinct().agg(count(lit(1)).as("n_union"))
    val nCustOnly = custs.except(users).agg(count(lit(1)).as("n_cust_only"))
    nUsers.crossJoin(nCommon).crossJoin(nUnion).crossJoin(nCustOnly)
  }

  /** Q10 — rollup + GROUPING (A4): customer counts over (region, nation). */
  def q10RollupRegionNation(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .join(broadcast(nation(s, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(s, dir)), col("n_regionkey") === col("r_regionkey"))
      .rollup(col("r_name"), col("n_name"))
      .agg(count(lit(1)).as("n_customers"),
        grouping(col("r_name")).cast("int").as("g_region"),
        grouping(col("n_name")).cast("int").as("g_nation"))
      .select(coalesce(col("r_name"), lit("(all)")).as("region"),
        coalesce(col("n_name"), lit("(all)")).as("nation"),
        col("n_customers"), col("g_region"), col("g_nation"))
      .orderBy(col("region"), col("nation"))

  /** Q11 — ranking window (W1): top-3 orders per customer. */
  def q11TopOrdersPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders(s, dir)
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
      .select(col("o_custkey"), col("rank"), col("o_orderkey"), col("o_totalprice"))
      .orderBy(col("o_custkey"), col("rank"))
  }

  /** Q12 — the reference's clean_text chain (P1/P2/F3/F6) over deterministic
    * messied input (the fixture text is already clean; the mess re-creates
    * NBSPs, tab runs and newline stacks so every regex stage fires).
    */
  def q12CleanText(s: SparkSession, dir: String): DataFrame = {
    val messy = concat(lit("  "), col("text"), lit("\t\t x  y "),
      lit("\u00A0"), lit("z\n\n\n\nend  "))
    documents(s, dir)
      .select(col("doc_id"), TextFunctions.cleanText(messy).as("cleaned"))
      .where(length(col("cleaned")) > 0)
      .select(col("doc_id"), length(col("cleaned")).as("clean_len"),
        substring(col("cleaned"), 1, 40).as("head40"))
      .orderBy(col("doc_id"))
  }

  /** Q13 — the relational fixed-overlap chunker (C1), size=120 overlap=20. */
  def q13FixedChunker(s: SparkSession, dir: String): DataFrame =
    Chunkers.fixedRelational(documents(s, dir).select(col("doc_id"), col("text")),
        col("text"), chunkSize = 120, overlap = 20)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(length(col("chunk_text"))).as("sum_len"))
      .orderBy(col("doc_id"))

  /** Q14 — paragraph split (C2) after deterministically injecting paragraph
    * breaks (the fixture text has none).
    */
  def q14ParagraphChunks(s: SparkSession, dir: String): DataFrame = {
    val withBreaks = regexp_replace(col("text"), " (table|row) ", "\n\n")
    documents(s, dir)
      .select(col("doc_id"), withBreaks.as("t"))
      .select(col("doc_id"),
        size(filter(split(col("t"), "\\n\\s*\\n"),
          p => length(regexp_replace(p, "^\\s+|\\s+$", "")) > 0)).as("n_paras"))
      .orderBy(col("doc_id"))
  }

  /** Q15 — cosine top-5 of vec_id 0 (V1, J8, O2). Ordered by the exact
    * similarity (bit-identical across engines), floored to 3 dp for output.
    */
  def q15CosineTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val q = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .withColumn("sim", VectorFunctions.cosine(col("embedding"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
      .select(col("vec_id"), fl(col("sim"), 3).as("cos_sim"))
  }

  /** Q16 — pairwise inner product within label, per-label stats (V2).
    *
    * SCALE POSTURE: this is deliberately the exact all-pairs-within-group
    * form — O(N²/labels) with a shuffle on `label` — because the probe's
    * semantics (exact per-label MAX inner product) admit no general
    * sub-quadratic exact algorithm, and the fixture's near-uniform vector
    * norms defeat Cauchy–Schwarz norm pruning. At 100 TB you don't run
    * this shape: candidate generation goes through LSH bands (q21/q43),
    * IVF cluster pruning (q30, writeIvfIndex), or embedding-bucket
    * prefilters, and the pairwise kernel is only the VERIFIER on bounded
    * candidate sets (Dedup.embeddingNearDupPairs documents the same
    * contract). Kept exact here so the DuckDB oracle stays meaningful.
    */
  def q16InnerProductLabel(s: SparkSession, dir: String): DataFrame = {
    val a = embeddings(s, dir).select(col("label"), col("vec_id").as("id1"), col("embedding").as("v1"))
    val b = embeddings(s, dir).select(col("label").as("label2"), col("vec_id").as("id2"), col("embedding").as("v2"))
    a.join(b, col("label") === col("label2") && col("id1") < col("id2"))
      .withColumn("ip", VectorFunctions.dot(col("v1"), col("v2")))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"), fl(max(col("ip")), 3).as("max_ip"))
      .orderBy(col("label"))
  }

  /** Q17 — running-sum frame (W3): first 3 events per user with running sum. */
  def q17RunningSum(s: SparkSession, dir: String): DataFrame = {
    val order = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    val frame = order.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    eventsUs(s, dir)
      .withColumn("rn", row_number().over(order))
      .withColumn("run_sum", sum(dec2(col("value"))).over(frame).cast("double"))
      .where(col("rn") <= 3)
      .select(col("user_id"), col("rn"), col("event_id"), round(col("run_sum"), 2).as("run_sum"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Q18 — tumbling hour window (ST1 batch form, F1), epoch-ms keyed. */
  def q18HourlyTumbling(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(dsum2(col("value")), 2).as("sum_value"))
      .select(unix_millis(col("w.start")).as("hour_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))

  /** Q19 — JSON extraction (F5): sum of props.k per event type. */
  def q19JsonExtract(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .select(col("event_type"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(col("k")).as("n_with_k"))
      .orderBy(col("event_type"))

  /** Q20 — exact-duplicate detection via group-by-having (V4 exact). */
  def q20ExactDupTriples(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), col("event_type"), col("value"))
      .agg(count(lit(1)).as("n_dups"))
      .where(col("n_dups") > 1)
      .orderBy(col("user_id"), col("event_type"), col("value"))

  // ------------------------------------------- LLM-pipeline operator probes

  /** Documents augmented with mutated near-duplicate copies (id+100000,
    * last 30 chars dropped) — deterministic near-dup planting so dedup
    * probes have non-trivial positives. Restricted to doc_id < 60.
    */
  private def docsWithNearDups(s: SparkSession, dir: String): DataFrame = {
    val base = documents(s, dir).where(col("doc_id") < 60)
      .select(col("doc_id"), col("text"))
    val mutated = base.select((col("doc_id") + 100000).as("doc_id"),
      substring(col("text"), 1, 300).as("text"))
    base.unionByName(mutated)
  }

  /** Q21 — MinHash + LSH near-dup pairs with exact-Jaccard verification
    * (V4): the full shingle → minhash → band → bucket-join → verify pipeline,
    * portable md5 hashing so DuckDB replays it exactly.
    */
  def q21MinhashNearDup(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
        shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
      .select(col("id1"), col("id2"), fl(col("jaccard") * 1000, 0).as("jaccard_m"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Q22 — SimHash fingerprints (V4): 16-bit portable simhash per doc. */
  def q22Simhash(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 100)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), Dedup.simhash(col("toks"), 16).as("simhash16"))
      .orderBy(col("doc_id"))

  /** Q23 — exact n-gram Jaccard on an id-bounded pair set (V4 verify path). */
  def q23JaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 20)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), TextFunctions.shingles(col("toks"), 3).as("sh"))
    val a = docs.select(col("doc_id").as("id1"), col("sh").as("sh1"))
    val b = docs.select(col("doc_id").as("id2"), col("sh").as("sh2"))
    a.join(b, col("id1") < col("id2"))
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast("double") / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .select(col("id1"), col("id2"), fl(col("jaccard") * 1000, 0).as("jaccard_m"))
      .orderBy(col("id1"), col("id2"))
  }

  /** Q24 — embedding-cosine near-dup pairs ≥ 0.3 (V4 embedding variant). */
  def q24EmbeddingNearDup(s: SparkSession, dir: String): DataFrame =
    Dedup.embeddingNearDupPairs(embeddings(s, dir), "vec_id", "embedding", 0.3)
      .select(col("id1"), col("id2"), fl(col("cos_sim") * 100, 0).as("cos_sim_c"))
      .orderBy(col("id1"), col("id2"))

  /** Q25 — heuristic language-ID (V5) vs the labeled lang column. */
  def q25LangId(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("lang"), TextAnalysis.langId(col("toks")).as("lang_id"))
      .groupBy(col("lang"), col("lang_id"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_id"))

  /** Q26 — collect aggregates (A5): sorted distinct event types per user. */
  def q26EventTypeSets(s: SparkSession, dir: String): DataFrame =
    events(s, dir).where(col("user_id") < 10)
      .groupBy(col("user_id"))
      .agg(concat_ws(",", sort_array(collect_set(col("event_type")))).as("types"),
        count(lit(1)).as("n_events"))
      .orderBy(col("user_id"))

  /** Q27 — token counting (V5): whitespace words + BPE-ish regex tokens. */
  def q27TokenCounts(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        TextFunctions.wordCount(col("text")).as("word_cnt"),
        TextFunctions.bpeishTokenCount(col("text")).as("bpe_cnt"),
        length(col("text")).as("n_chars_q"))
      .orderBy(col("doc_id"))

  /** Q28 — content fingerprint (V5): md5-16 identity per doc. */
  def q28Fingerprint(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 100)
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp16"))
      .orderBy(col("doc_id"))

  /** Q29 — per-label embedding centroid, relational decimal-exact form
    * (A6's oracle twin; the typed Aggregator itself is q44, rows-only).
    */
  def q29Centroids(s: SparkSession, dir: String): DataFrame =
    embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy(col("label"), col("pos"))
      .agg(fl(sum(col("v").cast("double").cast("decimal(18,9)")).cast("double")
        / count(lit(1)), 6).as("centroid_v"))
      .orderBy(col("label"), col("pos"))

  /** Q30 — IVF-style ANN (V3): assign every vector to its nearest of 8 seed
    * centroids (window argmax — mirrors the oracle), then search only the
    * query's cluster. Same relational shape DuckDB replays.
    */
  def q30IvfAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid"))
    val assigned = emb.crossJoin(broadcast(cents))
      .withColumn("csim", VectorFunctions.cosine(col("embedding"), col("cv")))
      .withColumn("crank", row_number().over(wAssign))
      .where(col("crank") === 1)
      .select(col("vec_id"), col("cid").as("cluster_id"), col("embedding"))
    val qCluster = assigned.where(col("vec_id") === 0)
      .select(col("cluster_id").as("qc"), col("embedding").as("qv"))
    assigned.join(broadcast(qCluster), col("cluster_id") === col("qc"))
      .where(col("vec_id") =!= 0)
      .withColumn("sim", VectorFunctions.cosine(col("embedding"), col("qv")))
      .orderBy(col("sim").desc, col("vec_id"))
      .limit(5)
      .select(col("vec_id"), col("cluster_id"), fl(col("sim"), 3).as("cos_sim"))
  }

  /** Q31 — math functions (F2): sqrt/least/greatest/abs per brand. */
  def q31MathFuncs(s: SparkSession, dir: String): DataFrame =
    part(s, dir)
      .groupBy(col("p_brand"))
      .agg(
        fl(sum(sqrt(col("p_retailprice")).cast("decimal(18,6)")).cast("double"), 2)
          .as("sum_sqrt_price"),
        least(min(col("p_size")), lit(10)).as("min_size_c"),
        greatest(max(col("p_size")), lit(40)).as("max_size_c"),
        sum(abs(col("p_size") - 25)).as("sum_absdev"),
        count(lit(1)).as("n"))
      .orderBy(col("p_brand"))

  /** Q32 — composite quality score (V5). */
  def q32QualityScore(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 200)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"),
        fl(TextAnalysis.qualityScore(col("text"), col("toks")), 4).as("quality"))
      .orderBy(col("doc_id"))

  /** Q33 — string functions (F3): case/substring/concat_ws/lpad. */
  def q33Strings(s: SparkSession, dir: String): DataFrame =
    customer(s, dir).where(col("c_custkey") < 100)
      .select(col("c_custkey"),
        upper(col("c_name")).as("name_upper"),
        concat_ws("-", lower(substring(col("c_name"), 1, 8)),
          lpad(col("c_custkey").cast("string"), 6, "0")).as("name_code"),
        length(col("c_name")).as("name_len"))
      .orderBy(col("c_custkey"))

  /** Q34 — session windows (ST2b, batch form): 5-minute-gap sessions. */
  def q34Sessions(s: SparkSession, dir: String): DataFrame =
    events(s, dir).where(col("user_id") < 10)
      .groupBy(session_window(col("ts"), "5 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n"), round(dsum2(col("value")), 2).as("sum_value"))
      .select(col("user_id"), unix_millis(col("w.start")).as("session_start_ms"),
        col("n"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start_ms"))

  /** Q35 — deterministic exact-dedup (keep min event_id per value triple). */
  def q35ExactDedupKeepMin(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .groupBy(col("user_id"), col("event_type"), col("value"))
      .agg(min(col("event_id")).as("kept_id"))
      .select(col("kept_id"))
      .orderBy(col("kept_id"))

  /** Q36 — analytic windows (W2): lag/lead deltas per user, first 5 events. */
  def q36LagLead(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
    eventsUs(s, dir).where(col("user_id") < 20)
      .withColumn("rn", row_number().over(w))
      .withColumn("delta",
        (dec2(col("value")) - lag(dec2(col("value")), 1).over(w)).cast("double"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .where(col("rn") <= 5)
      .select(col("user_id"), col("rn"), col("delta"),
        coalesce(col("next_type"), lit("(none)")).as("next_type"))
      .orderBy(col("user_id"), col("rn"))
  }

  /** Q37 — cube + grouping ids (A4 beyond rollup). */
  def q37Cube(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .cube(col("event_type"), col("user_bucket"))
      .agg(count(lit(1)).as("n"),
        grouping(col("event_type")).cast("int").as("g_type"),
        grouping(col("user_bucket")).cast("int").as("g_bucket"))
      .select(coalesce(col("event_type"), lit("(all)")).as("event_type"),
        coalesce(col("user_bucket"), lit(-1)).as("user_bucket"),
        col("n"), col("g_type"), col("g_bucket"))
      .orderBy(col("event_type"), col("user_bucket"), col("g_type"), col("g_bucket"))

  /** Q38 — ntile quartiles (W1 variant), scale-safe: Ranks.ntileExact
    * (range-partitioned rank + offset arithmetic) instead of a global
    * `Window.orderBy` that would funnel all rows through one task. Same
    * ntile semantics bit-for-bit (RanksSpec), same DuckDB oracle.
    */
  def q38Ntile(s: SparkSession, dir: String): DataFrame =
    operators.Ranks.ntileExact(
        events(s, dir).where(col("user_id") < 50),
        4, Seq(col("value"), col("event_id")), tileCol = "quartile")
      .groupBy(col("quartile"))
      .agg(count(lit(1)).as("n"), min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))
      .orderBy(col("quartile"))

  /** Q39 — date part functions (F1): monthly order rollup. */
  def q39Dates(s: SparkSession, dir: String): DataFrame =
    orders(s, dir)
      .groupBy(year(col("o_orderdate")).as("yr"), month(col("o_orderdate")).as("mo"))
      .agg(count(lit(1)).as("n_orders"),
        round(dsum2(col("o_totalprice")), 2).as("revenue"))
      .orderBy(col("yr"), col("mo"))

  // ------------------------------------ typed / approximate probes (q40+)

  /** Q40 — the full TYPED index pipeline (S6→P1→C1→E1→schema), promoted to
    * oracle-green: clean → chunk fixed(1200,200) → hashed-TF embed(64) via
    * mapPartitions batches, `created_at` pinned to a deterministic instant.
    * The projections are all INTEGER-EXACT functions of the pipeline output
    * — chunk md5 fingerprint, non-zero embedding coordinate count and
    * index-sum (= the distinct md5 token buckets, float-free) — so DuckDB
    * replays the whole typed path through the relational twin's SQL
    * (tokens → md5 % 64 buckets; OracleSql q40). This hash-checks the typed
    * mapPartitions embedder and typed chunker END-TO-END, not just their
    * relational siblings (q58).
    */
  def q40IndexPipeline(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val batchTs = java.time.Instant.parse("2026-01-01T00:00:00Z")
    Index.indexFrame(Index.buildIndex(documents(s, dir)), Some(batchTs))
      .select(col("doc_id"), col("filename"), col("chunk_index"), col("split_strategy"),
        length(col("chunk_text")).as("chunk_len"),
        substring(md5(col("chunk_text")), 1, 16).as("chunk_fp"),
        expr("size(filter(embedding, v -> v != cast(0 as float)))").as("nnz"),
        expr("aggregate(zip_with(embedding, sequence(0, size(embedding) - 1)," +
          " (v, i) -> if(v != cast(0 as float), i, 0)), 0, (a, x) -> a + x)").as("nz_dim_sum"),
        unix_millis(col("created_at")).as("created_ms"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Q41 — the flagship semantic-search read path (SURVEY.md §3.3), promoted
    * to oracle-green via [[Index.searchTextRelational]]: sparse cosine on
    * integer term counts (scale-invariant ⇒ same score as the normalized
    * form, exactly DuckDB-replayable). The typed dense path stays spec-
    * covered (EmbeddingsSpec/SearchSpec); IndexSearchParitySpec pins the two
    * paths to the same ranking.
    */
  def q41SearchText(s: SparkSession, dir: String): DataFrame =
    Index.searchTextRelational(documents(s, dir), "spark join query fast", k = 5)
      .select(col("doc_id"), col("win_pos"),
        substring(md5(col("chunk_text")), 1, 16).as("chunk_fp"),
        floor(col("score") * 1000000).cast("long").as("score_u"))
      .orderBy(col("score_u").desc, col("doc_id"), col("win_pos"))

  /** Q42 — sentence chunking (C3/C4; lookbehind ⇒ golden-tested, not oracle). */
  def q42SentenceChunks(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val prepared = Index.prepare(documents(s, dir))
    Chunkers.chunkDataset(prepared, SplitStrategy.Sentence(200))
      .groupBy(col("docId").as("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(length(col("chunkText"))).as("sum_len"))
      .orderBy(col("doc_id"))
  }

  /** Q43 — MLlib random-projection LSH approximate near-dup pairs (V3),
    * promoted from rows-only to a BOUNDED oracle pass (VERDICT r18 item
    * 5). The approximate pair SET is oracle-impossible (DuckDB has no
    * MLlib RP-LSH; q112's seeded-LSH twin carries the family's exact
    * oracle), but its QUALITY is machine-checkable: the probe emits the
    * exact-pair census at the same radius and the recall of the LSH pairs
    * against it, gated on the frozen floor (BASELINE §ANN-recall r19:
    * observed 0.934 / 0.944 / 0.938 at sf0.001/0.01/0.1 — deterministic
    * per scale, seed 42 — floor frozen at 0.90). MLlib's
    * approxSimilarityJoin post-filters candidates on TRUE distance, so
    * the LSH pairs are a subset of the exact pairs by construction; the
    * semi join is a guard against canonicalization drift, not an
    * estimate. The O(N²) exact leg is the measurement harness a recall
    * number needs at probe scale, NOT the serving path — at 100 TB the
    * serving path stays the banded LSH join, and ground truth comes from
    * a sampled query set (RecallBench's protocol).
    */
  def q43LshAnn(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val lsh = new Search.LshIndex(bucketLength = 0.5, numTables = 3, seed = 42L)
      .approxPairs(emb, "vec_id", "embedding", maxL2Dist = 1.18)
      .select(col("id1"), col("id2"))
    val exact = emb.as("a")
      .join(emb.as("b"), col("a.vec_id") < col("b.vec_id"))
      .where(VectorFunctions.l2Distance(
        col("a.embedding"), col("b.embedding")) <= 1.18)
      .select(col("a.vec_id").as("id1"), col("b.vec_id").as("id2"))
    // ONE pass over the O(N²) exact leg (review r19): a left-outer join
    // with a hit marker lets one aggregate produce both counts — the
    // naive exact.agg × semiJoin.agg form evaluated the dominant
    // self-join twice. lsh is distinct-ed first so a duplicate pair
    // could never fan out the exact rows it marks.
    val marked = exact.join(
      lsh.distinct().withColumn("_hit", lit(1)), Seq("id1", "id2"),
      "left_outer")
    marked.agg(count(lit(1)).as("exact_pairs"), count(col("_hit")).as("_hits"))
      .select(col("exact_pairs"),
        // division is null at exact_pairs = 0 (non-ANSI Divide); recall
        // over an empty ground truth is vacuously met, and the oracle's
        // literal TRUE must hash-match on such a fixture (review r19)
        coalesce(
          col("_hits").cast("double") / col("exact_pairs") >= lit(0.90),
          lit(true)).as("lsh_recall_ge_floor"),
        lit(900000L).as("recall_floor_u"))
  }

  /** Q44 — the TYPED centroid Aggregator path (A6), promoted to oracle-green
    * via [[Dedup.QuantizedCentroidAggregator]]: element sums carried as
    * DECIMAL(18,9)-scaled longs (exact, combine-order-independent — the
    * double-sum nondeterminism that kept this probe rows-only is gone by
    * construction). Emits the integer scaled sums + count; DuckDB replays
    * them with a decimal sum (OracleSql q44). The float-mean sibling
    * (CentroidAggregator) stays spec-covered (DedupSpec) and its relational
    * twin is q29.
    */
  def q44CentroidTyped(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    embeddings(s, dir)
      .select(col("label"), col("embedding"))
      .as[(Int, Array[Float])]
      .groupByKey(_._1)
      .mapValues(_._2)
      .agg(new Dedup.QuantizedCentroidAggregator(64).toColumn.name("c"))
      .toDF("label", "c")
      .select(col("label"), posexplode(col("c._1")).as(Seq("pos", "sum_u")), col("c._2").as("n"))
      .orderBy(col("label"), col("pos"))
  }

  /** Q45 — multimodal with REAL image decode: image rows carry actual PNG
    * bytes (formula pixels), decoded back to exact integer stats via
    * javax.imageio. PNG is lossless and the pixels are closed-form in
    * (id,x,y), so the DuckDB oracle recomputes px_sum from the formula —
    * a full encode→decode round-trip is hash-checked end-to-end. (Video
    * rows are REAL AVI since round-5 close; their decode probe is q102.)
    */
  def q45Multimodal(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import graft.sources.Multimodal
    val media = Multimodal.syntheticMedia(s, 100)
    val stats = Multimodal.decodeImageStats(media)
    media
      .select(col("media_id"), col("meta.media_type").as("media_type"))
      .join(stats, Seq("media_id"), "left_outer")
      .orderBy(col("media_id"))
  }

  /** Q46 — salted skew-resistant join (Joins.saltedEquiJoin): result is
    * identical to the plain inner join, so the plain join IS the oracle.
    * Round-5 note (the r4 bench regression): customer at probe scale is
    * broadcastable, and a BroadcastHashJoin never shuffles the big side —
    * salting there was pure overhead (numSalts× broadcast build). The
    * operator now detects the broadcast regime and joins plain; the salted
    * shape (and its correctness/plan asserts) is pinned under forced-SMJ in
    * JoinsCliSpec.
    */
  def q46SaltedJoin(s: SparkSession, dir: String): DataFrame =
    operators.Joins.saltedEquiJoin(
        events(s, dir), customer(s, dir),
        "user_id", "c_custkey", col("event_id"), numSalts = 8)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(dsum2(col("value")), 2).as("sum_value"))
      .orderBy(col("c_mktsegment"))

  /** Q47 — MLlib tf-idf features (V5 classical path). Oracle-green since
    * round 6: the vocabulary is PINNED by an explicit (df desc, term asc)
    * total-order sort (TextFeatures scaladoc), so n_active_terms — the
    * count of vocabulary terms present in the doc with idf > 0 — is
    * engine-exact and DuckDB replays the whole selection.
    */
  def q47Tfidf(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.ml.functions.vector_to_array
    val docs = documents(s, dir).where(col("doc_id") < 200)
    val (_, out) = functions.TextFeatures.fitTransform(docs,
      functions.TextFeatures.TfIdfConfig(vocabSize = 128, minDocFreq = 2))
    out.select(col("doc_id"),
        size(filter(vector_to_array(col("tfidf")), x => x =!= 0.0)).as("n_active_terms"))
      .orderBy(col("doc_id"))
  }

  /** Q48 — near-dup cluster resolution (V4 keep-min): the minhash pair graph
    * resolved to minimum-reachable-id representatives via distributed
    * min-label propagation; oracle = DuckDB recursive-CTE transitive closure.
    */
  def q48NeardupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    Dedup.resolveClusters(pairs)
      .select(col("id"), col("rep"))
      .orderBy(col("id"))
  }

  /** Q49 — winnowing fingerprints (V5/V4): MOSS-style k-gram local-min
    * document signatures, k=8 w=4.
    */
  def q49Winnowing(s: SparkSession, dir: String): DataFrame =
    documents(s, dir).where(col("doc_id") < 100)
      .withColumn("fp", TextAnalysis.winnowingFingerprints(col("text"), 8, 4))
      .select(col("doc_id"), size(col("fp")).as("n_fp"),
        array_min(col("fp")).as("fp_min"), array_max(col("fp")).as("fp_max"))
      .orderBy(col("doc_id"))

  /** Idempotent per-sfDir staging for probes that materialize an index /
    * sketch store / file copy into the tmp dir once, so repeated bench
    * runs time the QUERY and not staging I/O (round-3 verdict: staging
    * inflated q50 to 5.7 s). The staging key is the SANITIZED FULL source
    * path — `dir.hashCode` could collide two sfDirs into one staging dir
    * (ADVICE r7) — and freshness is the source's `size:mtime` pair, so a
    * regenerated fixture of identical byte size still re-stages. Returns
    * (stagingRoot, fresh, commit): callers rebuild into the root when
    * `!fresh` and call `commit()` AFTER the rebuild lands (crash before
    * commit ⇒ next run re-stages).
    */
  private def stagedRoot(tag: String, dir: String, src: java.nio.file.Path)
      : (java.nio.file.Path, Boolean, () => Unit) = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val root = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"${tag}_$safe")
    // underscore-prefixed: Spark file listings treat `_*`/`.*` as hidden
    // (like _SUCCESS), so the marker can live inside a directory that is
    // itself read as a parquet source or tailed as a file stream (q50)
    val marker = root.resolve("_source.marker")
    val legacyMarker = root.resolve("source.marker")
    val want = java.nio.file.Files.size(src).toString + ":" +
      java.nio.file.Files.getLastModifiedTime(src).toMillis
    val fresh = java.nio.file.Files.exists(marker) &&
      java.nio.file.Files.readString(marker) == want
    val commit = () => {
      java.nio.file.Files.createDirectories(root)
      java.nio.file.Files.deleteIfExists(legacyMarker)
      java.nio.file.Files.writeString(marker, want)
      ()
    }
    (root, fresh, commit)
  }

  /** Per-(tag, sfDir) SCRATCH dir for work a probe redoes every
    * invocation (q149's updated indexes, q150's stream source): DELETED
    * and recreated at entry, so bench reps never accumulate copies in the
    * JVM tmp dir (ADVICE r12) — at most one copy is ever alive, and the
    * returned lazy frame stays readable until the probe's NEXT
    * invocation, by which time the prior result has been consumed (Verify
    * writes / Bench counts synchronously before re-invoking).
    *
    * SINGLE-RUNNER ASSUMPTION (ADVICE r13): the path is shared per
    * (tag, sfDir), so two JVMs invoking the SAME probe against the SAME
    * sfDir concurrently would race on the delete/recreate. That is
    * outside the harness contract — the driver runs Verify and Bench
    * sequentially, and the repo workflow forbids concurrent sbt runs
    * against one tree (they already race on target/). Probes for
    * DIFFERENT sfDirs (the sweep) or different tags never collide.
    */
  private def scratchDir(tag: String, dir: String): java.nio.file.Path = {
    val safe = dir.replaceAll("[^A-Za-z0-9._-]", "_")
    val p = java.nio.file.Paths.get(sys.props("java.io.tmpdir"), s"${tag}_$safe")
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
    java.nio.file.Files.createDirectories(p)
  }

  /** Q50 — a real Structured Streaming run (ST1, ORACLE-CHECKED since
    * round 10): the events fixture staged as a file stream → tumbling
    * counts → COMPLETE-mode memory sink, drained to completion and
    * returned as a batch frame. Complete mode (not append) because a
    * finite drain under append+watermark withholds the tail windows the
    * watermark never passes; the complete-mode drain is bit-identical to
    * Q18's batch aggregate (decimal-exact sum in Streams.tumblingCounts),
    * so the probe shares Q18's DuckDB oracle SQL.
    */
  def q50Streaming(s: SparkSession, dir: String): DataFrame = {
    // Idempotent staging ([[stagedRoot]]); the copy goes through a unique
    // temp name + atomic move so concurrent JVMs can't race each other
    // into a half-copied file.
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (staged, fresh, commitStaged) = stagedRoot("q50ev", dir, src)
    val target = staged.resolve("events.parquet")
    if (!fresh || !java.nio.file.Files.exists(target)) {
      java.nio.file.Files.createDirectories(staged)
      // dot-prefixed: Spark file sources ignore hidden files, so a
      // concurrent stream over this dir never sees the half-copied temp
      val tmp = staged.resolve(s".events.parquet.${java.util.UUID.randomUUID()}.tmp")
      java.nio.file.Files.copy(src, tmp)
      java.nio.file.Files.move(tmp, target,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      commitStaged()
    }
    val name = "q50_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Streams.streamTumblingToMemoryComplete(s, staged.toString, name)
    try q.processAllAvailable() finally q.stop()
    s.table(name)
      .select(unix_millis(col("window_start")).as("hour_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))
  }

  /** Q51 — binaryFile document ingestion (S1–S3, rows-only): fixture texts
    * staged as .txt/.pdf/.docx files → distributed extraction → index-ready
    * chunk rows.
    */
  def q51FileIngest(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val staged = java.nio.file.Files.createTempDirectory("q51docs")
    val texts = documents(s, dir).where(col("doc_id") < 30)
      .select(col("doc_id"), col("text")).collect()
    // stage REAL files per format: txt raw bytes, a valid Flate-compressed
    // PDF, a valid DOCX zip — the extractors genuinely parse them
    import graft.sources.DocFormats.{MinimalDocx, MinimalPdf}
    texts.foreach { r =>
      val (docId, text) = (r.getLong(0), r.getString(1))
      val (ext, bytes) = (docId % 3) match {
        case 0 => ("txt", text.getBytes("UTF-8"))
        // rotate plain 1.4, symbolic-font, and 1.5 ObjStm+xref-stream PDFs:
        // all three extract the SAME text, so q51's rows are invariant
        case 1 if docId % 6 == 4 => ("pdf", MinimalPdf.writeWithToUnicode(text))
        case 1 if docId % 6 == 1 =>
          ("pdf", MinimalPdf.writeObjStm(text, usePredictor = docId % 4 == 1))
        case 1 => ("pdf", MinimalPdf.write(text))
        case _ => ("docx", MinimalDocx.write(text.split("\n", -1).toSeq))
      }
      java.nio.file.Files.write(staged.resolve(s"doc$docId.$ext"), bytes)
    }
    val docs = graft.sources.DocumentSources.readDocuments(s, staged.toString)
    val chunks = Chunkers.chunkDataset(docs, SplitStrategy.Fixed(200, 40))
    chunks
      .groupBy(col("filename"))
      .agg(count(lit(1)).as("n_chunks"), sum(length(col("chunkText"))).as("sum_len"))
      .orderBy(col("filename"))
  }

  /** Q52 — pivot (A-family reshaping): per user-bucket event-type counts as
    * columns. DuckDB oracle uses FILTER aggregations (same result shape).
    */
  def q52Pivot(s: SparkSession, dir: String): DataFrame =
    events(s, dir)
      .withColumn("user_bucket", (col("user_id") % 10).cast("int"))
      .groupBy(col("user_bucket"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      .na.fill(0L)
      .orderBy(col("user_bucket"))

  /** Q53 — explicit GROUPING SETS via the SQL front-end (A4 completes). */
  def q53GroupingSets(s: SparkSession, dir: String): DataFrame = {
    events(s, dir).createOrReplaceTempView("graft_events_gs")
    s.sql("""
      SELECT coalesce(event_type, '(all)') AS event_type,
             coalesce(CAST(user_id % 5 AS INT), -1) AS user_mod,
             count(*) AS n,
             CAST(grouping(event_type) AS INT) AS g_type
      FROM (SELECT event_type, user_id FROM graft_events_gs)
      GROUP BY GROUPING SETS ((event_type), (user_id % 5), (event_type, user_id % 5))
      ORDER BY event_type, user_mod, g_type""")
  }

  /** Q54 — unpivot/melt: wide per-brand stats back to long form. */
  def q54Unpivot(s: SparkSession, dir: String): DataFrame = {
    val wide = part(s, dir)
      .groupBy(col("p_brand"))
      .agg(min(col("p_size")).cast("long").as("min_size"),
        max(col("p_size")).cast("long").as("max_size"),
        count(lit(1)).as("n_parts"))
    wide.unpivot(Array(col("p_brand")),
        Array(col("min_size"), col("max_size"), col("n_parts")),
        "stat", "value_l")
      .orderBy(col("p_brand"), col("stat"))
  }

  /** Q55 — full outer join (J3 completes): per-user event stats vs customers
    * on a skewed derived key so both unmatched sides are non-empty.
    */
  def q55FullOuter(s: SparkSession, dir: String): DataFrame = {
    val perUser = events(s, dir)
      .withColumn("ukey", col("user_id") * 13)
      .groupBy(col("ukey"))
      .agg(count(lit(1)).as("n_events"))
    customer(s, dir)
      .join(perUser, col("c_custkey") === col("ukey"), "full_outer")
      .select(
        coalesce(col("c_custkey"), col("ukey")).as("k"),
        when(col("c_custkey").isNull, 0).otherwise(1).as("has_cust"),
        coalesce(col("n_events"), lit(0L)).as("n_events"))
      .orderBy(col("k"))
  }

  /** Q56 — predicate surface (P5): LIKE / IN / BETWEEN / boolean algebra. */
  def q56Predicates(s: SparkSession, dir: String): DataFrame =
    customer(s, dir)
      .where((col("c_name").like("%00001%") ||
        col("c_mktsegment").isin("BUILDING", "MACHINERY")) &&
        col("c_acctbal").between(0.0, 5000.0) &&
        !(col("c_nationkey") === 13))
      .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      .orderBy(col("c_custkey"))

  /** Q57 — date arithmetic (F1): day offsets and month adds with clamping. */
  def q57DateArith(s: SparkSession, dir: String): DataFrame =
    orders(s, dir).where(col("o_orderkey") % 100 === 0)
      .select(col("o_orderkey"),
        unix_millis(date_add(col("o_orderdate"), 30).cast("timestamp")).as("plus30d_ms"),
        unix_millis(add_months(col("o_orderdate"), 2).cast("timestamp")).as("plus2mo_ms"),
        datediff(to_date(lit("2002-01-01")), col("o_orderdate").cast("date")).as("days_to_2002"))
      .orderBy(col("o_orderkey"))

  /** Q58 — the flagship index pipeline's RELATIONAL twin, hash-oracle-checked
    * end to end: cleanText → fixedRelational(1200,200) → wordTokens →
    * tfEmbedding(64), emitting each chunk's NON-ZERO embedding coordinates.
    * Every step is double-precision portable SQL, so DuckDB replays it
    * bit-for-bit (counts are integers, c² sums are exact in double
    * regardless of order, c/norm is one IEEE division). The typed pipeline
    * (q40) is equivalence-tested against these operators (ChunkersSpec G1,
    * EmbeddingsSpec), closing the oracle gap on the engine's flagship path.
    */
  def q58RelationalIndex(s: SparkSession, dir: String): DataFrame = {
    val cleaned = documents(s, dir)
      .select(col("doc_id"), TextFunctions.cleanText(col("text")).as("text"))
      .where(length(col("text")) > 0)
    val chunks = Chunkers.fixedRelational(cleaned, col("text"), 1200, 200)
      .withColumn("toks", TextFunctions.wordTokens(col("chunk_text")))
      .select(col("doc_id"), col("win_pos"),
        length(col("chunk_text")).as("chunk_len"), col("toks"))
    Embeddings.tfEmbeddingSparse(chunks, Seq("doc_id", "win_pos", "chunk_len"), "toks", 64)
      .select(col("doc_id"), col("win_pos"), col("chunk_len"), col("dim"),
        fl(col("v") * 1000000, 0).cast("long").as("v_u"))
      .orderBy(col("doc_id"), col("win_pos"), col("dim"))
  }

  /** Q59 — sentence split (C3) made oracle-checkable: the lookbehind split
    * re-expressed RE2-portably (Chunkers.SentenceSegmentPattern — no
    * lookaround), so DuckDB replays it. Per-doc sentence stats over cleaned
    * documents. The typed path keeps exact reference parity incl. Unicode
    * whitespace (goldens); this probe pins the ASCII-portable twin.
    */
  def q59SentenceSplit(s: SparkSession, dir: String): DataFrame = {
    val cleaned = documents(s, dir)
      .select(col("doc_id"), TextFunctions.cleanText(col("text")).as("text"))
      .where(length(col("text")) > 0)
    Chunkers.sentencesRelationalPortable(cleaned, col("text"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_sents"),
        sum(length(col("sent_text"))).cast("bigint").as("sum_len"),
        max(length(col("sent_text"))).as("max_len"))
      .orderBy(col("doc_id"))
  }

  /** Q60 — PII redaction (EXT pipeline op): synthetic PII planted into doc
    * text (emails/phones/IPv4 keyed off doc_id so the oracle rebuilds the
    * identical input), redacted by the RE2-portable chain, fingerprinted.
    */
  def q60PiiRedaction(s: SparkSession, dir: String): DataFrame = {
    val planted = documents(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id"),
        concat(
          lit("contact user"), col("doc_id"), lit("@example.com before "),
          substring(col("text"), 1, 120),
          lit(" or call +1 (555) 01"), col("doc_id"), lit(" from 10."),
          col("doc_id") % 256, lit(".0.1 thanks")).as("pii_text"))
    planted
      .select(col("doc_id"),
        TextFunctions.redactPii(col("pii_text")).as("red"))
      .select(col("doc_id"),
        length(col("red")).as("red_len"),
        substring(md5(col("red")), 1, 16).as("red_fp"),
        (size(split(col("red"), "<EMAIL>", -1)) - 1).as("n_email"),
        (size(split(col("red"), "<PHONE>", -1)) - 1).as("n_phone"),
        (size(split(col("red"), "<IP>", -1)) - 1).as("n_ip"))
      .orderBy(col("doc_id"))
  }

  /** Q61 — deterministic hash sampling (EXT): content-addressed 25% sample
    * + the exact-partition property of the complementary split, replayed by
    * DuckDB on the same md5-60bit hash.
    */
  def q61HashSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = documents(s, dir)
    Sampling.sampleByHash(docs, col("doc_id"), 0.25, salt = "v1")
      .select(col("doc_id"), col("source"))
      .orderBy(col("doc_id"))
  }

  /** Q62 — per-source token budget (EXT data mixing): keep docs in doc_id
    * order until each source's running word-token total passes 2000; report
    * per-source kept counts and consumed tokens. Partitioned running-sum
    * window — no global funnel.
    */
  def q62TokenBudget(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = documents(s, dir)
      .withColumn("n_tok", TextFunctions.wordCount(col("text")))
    Sampling.tokenBudgetFilter(docs, col("source"), col("n_tok"),
        Seq(col("doc_id")), budget = 2000L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("bigint").as("tokens_used"),
        max(col("doc_id")).as("last_doc"))
      .orderBy(col("source"))
  }

  /** Q63 — event-time interval join (ST4's batch twin): click → purchase
    * attribution within 1h per user. The same Streams.intervalJoin
    * definition runs on streams with bounded state (StreamsSpec ST4);
    * here its batch semantics are hash-oracle-checked (DuckDB compares
    * epoch_us — the fixture's ns timestamps truncate identically).
    */
  def q63IntervalJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = events(s, dir)
    graft.streaming.Streams.intervalJoin(
        ev.where(col("event_type") === "click"),
        ev.where(col("event_type") === "purchase"), "1 hour")
      .select(col("l_id"), col("r_id"))
      .orderBy(col("l_id"), col("r_id"))
  }

  /** Q64 — exact quantiles + order-independent dispersion (A-family).
    * `percentile` (exact, sort-based — deterministic on a fixed multiset;
    * same linear interpolation as DuckDB quantile_cont) and stddev via the
    * DECIMAL-sum formula n·Σx²−(Σx)² — NOT the built-in var_samp/stddev,
    * whose Welford-style merge is combine-order-dependent and therefore
    * not hash-stable across engines. The discipline demo: every
    * nondeterministic float aggregate has an exact-decimal reformulation.
    */
  def q64Quantiles(s: SparkSession, dir: String): DataFrame = {
    // integer cents (value has 2 decimals); narrow to DECIMAL(12,0) so the
    // square stays inside 38-digit precision on both engines
    val cents = (dec2(col("value")) * 100).cast("decimal(12,0)")
    events(s, dir)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        fl(expr("percentile(value, 0.5)"), 6).as("median"),
        fl(expr("percentile(value, 0.9)"), 6).as("p90"),
        sum(cents).cast("decimal(38,0)").as("_s1"),
        sum(cents * cents).cast("decimal(38,0)").as("_s2"))
      .select(col("event_type"), col("n"), col("median"), col("p90"),
        // sample stddev from exact sums, floored: all inputs exact decimals,
        // one double sqrt at the end
        fl(sqrt((col("_s2").cast("double") * col("n") -
                 col("_s1").cast("double") * col("_s1").cast("double")) /
                (col("n").cast("double") * (col("n") - 1))) / 100, 4).as("sd"))
      .orderBy(col("event_type"))
  }

  /** Q65 — FORWARD as-of join with tolerance (J7 completes the
    * merge_asof surface): per click, the earliest purchase value
    * at-or-after within 30 minutes, per user. Union+window — one shuffle
    * on user_id; oracle = DuckDB correlated first-match subquery.
    */
  def q65AsofForward(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val clicks = ev.where(col("event_type") === "click")
      .select(col("event_id"), col("user_id"), col("us"))
    val buys = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("us"), col("value"))
    operators.Joins.asofJoin(clicks, buys, "user_id", "us", "value", "event_id",
        direction = "forward", tolerance = Some(1800L * 1000000L))
      .select(col("event_id"), col("user_id"), col("asof_value"))
      .orderBy(col("event_id"))
  }

  /** Q66 — Gopher/C4-style repetition + rule filters (V5/EXT): per-doc
    * duplicate-line ratio, bullet/ellipsis line ratios, mean word length,
    * and the keep/drop rule conjunction. All int/int double divisions —
    * bit-portable, hash-oracle-checked.
    */
  def q66GopherRules(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 300)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .withColumn("ls", TextAnalysis.docLines(col("text")))
    docs.select(
        col("doc_id"),
        size(col("toks")).as("word_cnt"),
        fl(TextAnalysis.meanWordLen(col("toks")), 4).as("mwl"),
        fl(TextAnalysis.dupRatio(col("ls")), 4).as("dup_line_ratio"),
        fl(TextAnalysis.lineRatio(col("ls"), "^[-*•]"), 4).as("bullet_ratio"),
        fl(TextAnalysis.lineRatio(col("ls"), "\\.\\.\\.$"), 4).as("ellipsis_ratio"),
        TextAnalysis.gopherRulesPass(col("text"), col("toks")).cast("int").as("passes"))
      .orderBy(col("doc_id"))
  }

  /** Q67 — end-to-end near-dup DROP (V4 capstone): the minhash pair graph
    * resolved to clusters, losers (rep ≠ id) anti-joined away — the rows a
    * user actually keeps. Oracle replays the whole pipeline incl. the
    * recursive-CTE closure and the anti join.
    */
  def q67DropNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    Dedup.dropNearDuplicates(docs.select(col("doc_id"), col("text")), "doc_id", pairs)
      .select(col("doc_id"), length(col("text")).as("text_len"))
      .orderBy(col("doc_id"))
  }

  /** Q68 — stratified hash sampling (EXT data mixing): per-source keep
    * fractions (50% src0, 10% src1, 25% default) with driver-computed LONG
    * thresholds (engine-portable — no double→long cast semantics in play).
    */
  def q68StratifiedSample(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    Sampling.stratifiedSampleByHash(documents(s, dir), col("doc_id"), col("source"),
        Map("src0" -> 0.5, "src1" -> 0.1), defaultFraction = 0.25, salt = "mix1")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_kept"),
        min(col("doc_id")).as("min_id"), max(col("doc_id")).as("max_id"))
      .orderBy(col("source"))
  }

  /** Q69 — batched per-query exact top-k (V1 batched, Search.topKPerQuery):
    * queries broadcast, one scan of the data side, per-query window rank.
    * Oracle = DuckDB window over the equivalent join.
    */
  def q69TopKPerQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val queries = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    Search.topKPerQuery(emb.where(col("vec_id") >= 3), "embedding",
        queries, "qid", "qv", k = 3, tiebreak = Seq("vec_id"))
      .select(col("query_id"), col("rank").cast("int").as("rank"), col("vec_id"),
        fl(col("score") * 1000, 0).as("cos_m"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Q70 — sliding-window batch twin (ST2): overlapping 1h/15m windows.
    * Spark's `window()` assigns each event to width/slide epoch-aligned
    * windows; the oracle expands the same membership with generate_series.
    */
  def q70SlidingWindows(s: SparkSession, dir: String): DataFrame =
    graft.streaming.Streams.slidingCounts(events(s, dir), "1 hour", "15 minutes")
      .select(unix_millis(col("window_start")).as("start_ms"),
        unix_millis(col("window_end")).as("end_ms"), col("n"))
      .orderBy(col("start_ms"))

  /** Q71 — benchmark-contamination n-gram overlap (V4/V5, training-data
    * hygiene): docs 0–4 act as the "benchmark set"; every corpus doc gets
    * the fraction of its distinct 8-grams found in the benchmark. The
    * benchmark n-gram set is broadcast; the corpus never self-joins.
    */
  def q71Contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 300)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    val bench = docs.where(col("doc_id") < 5)
    Dedup.contaminationScores(docs, "doc_id", "toks", bench, "toks", n = 8)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_overlap"),
        fl(col("score") * 1000, 0).as("score_m"))
      .orderBy(col("doc_id"))
  }

  /** Q72 — BM25 ranked keyword search (V5/V1 lexical sibling): corpus
    * df/tf/doclen statistics + the Robertson idf, scores for every doc
    * containing a query term. Decimal-summed per doc (order-independent);
    * floor-3dp for the cross-engine ln() tolerance.
    */
  def q72Bm25(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    Search.bm25Scores(docs, "doc_id", "toks",
        queryTerms = Seq("data", "model", "search"))
      .select(col("id").as("doc_id"), fl(col("score") * 1000, 0).as("score_m"))
      .orderBy(col("doc_id"))
  }

  /** Q73 — greedy sequence packing (EXT, training-context assembly): docs
    * fold into ≤1000-token packs per shard, first-fit in id order. The
    * typed per-shard fold is oracle-checked by a DuckDB recursive CTE
    * carrying (pack, pos, tokens_before) over the shard's ordered list.
    */
  def q73PackSequences(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 400)
      .select(col("doc_id"), (col("doc_id") % 4).cast("int").as("shard"),
        size(TextFunctions.wordTokens(col("text"))).cast("long").as("n_tokens"))
    operators.Sampling.packSequences(docs, "doc_id", "shard", "n_tokens", budget = 1000)
      .select(col("id").as("doc_id"), col("shard"), col("pack_id"),
        col("pack_pos"), col("pack_tokens_before"))
      .orderBy(col("doc_id"))
  }

  /** Q74 — hybrid retrieval fusion (V1+V5 capstone): BM25 keyword top-20
    * and embedding-cosine top-20 merged by reciprocal-rank fusion (K=60).
    * Both sides rank on FLOORED scores with id tiebreaks, so ranks — and
    * therefore the fused scores — are engine-deterministic.
    */
  def q74HybridFusion(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    // cut each corpus-sized frame to its top-20 FIRST (TakeOrderedAndProject
    // — distributed partial top-k), then rank the 20-row result; the
    // (floored score desc, id) total order makes limit-then-rank identical
    // to rank-then-filter, without a corpus-wide single-partition window
    val bm25 = Search.bm25Scores(docs, "doc_id", "toks",
        queryTerms = Seq("data", "model", "search"))
      .select(col("id"), fl(col("score") * 1000, 0).as("score_m"))
      .orderBy(col("score_m").desc, col("id")).limit(20)
    val bmRanked = Search.rankByScore(bm25, Seq(col("score_m").desc, col("id")))
    val emb = embeddings(s, dir)
    val qv = emb.where(col("vec_id") === 0).select(col("embedding").as("qv"))
    val cos = emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(qv))
      .select(col("vec_id").as("id"),
        fl(VectorFunctions.cosine(col("embedding"), col("qv")) * 1000, 0).as("cos_m"))
      .orderBy(col("cos_m").desc, col("id")).limit(20)
    val cosRanked = Search.rankByScore(cos, Seq(col("cos_m").desc, col("id")))
    Search.reciprocalRankFusion(bmRanked, cosRanked, "id")
      .select(col("id"), fl(col("rrf_score") * 1000000, 0).as("rrf_u"),
        col("rank_a"), col("rank_b"))
      .orderBy(col("rrf_u").desc, col("id"))
  }

  /** Q75 — int8-quantized cosine (V2 storage tier): embeddings quantized
    * to symmetric int8 codes (4× smaller), similarity computed ENTIRELY on
    * the codes (scales cancel; integer dot + integer norms, so the math is
    * engine-exact and the oracle replays it bit-for-bit).
    */
  def q75QuantizedCosine(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val q = emb.where(col("vec_id") === 0)
      .select(VectorFunctions.i8Codes(col("embedding")).as("qc"))
    emb.where(col("vec_id") =!= 0)
      .crossJoin(broadcast(q))
      .select(col("vec_id"),
        fl(VectorFunctions.i8Cosine(
          VectorFunctions.i8Codes(col("embedding")), col("qc")) * 1000, 0).as("cos8_m"))
      .orderBy(col("vec_id"))
  }

  /** Q76 — materialized training packs (R40 completion): the pack
    * assignments joined back to text, one row per pack with member texts
    * concatenated in pack order ("\n\n" separator). The md5 of each packed
    * text is the strong cross-engine check (byte-exact concatenation).
    */
  def q76MaterializePacks(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = documents(s, dir).where(col("doc_id") < 200)
      .select(col("doc_id"), col("text"),
        (col("doc_id") % 4).cast("int").as("shard"),
        size(TextFunctions.wordTokens(col("text"))).cast("long").as("n_tokens"))
    val asg = Sampling.packSequences(docs, "doc_id", "shard", "n_tokens", budget = 1000)
    Sampling.materializePacks(docs, "doc_id", "text", asg)
      .select(col("shard"), col("pack_id"), col("n_docs"),
        substring(md5(col("text")), 1, 16).as("text_h"))
      .orderBy(col("shard"), col("pack_id"))
  }

  /** Q77 — statistical LM quality scoring (CCNet-style): a char-trigram
    * model trained on docs ≥ 100 scores docs < 100 by mean trigram
    * log-probability (unseen → exact-literal floor). Exact counts + one ln
    * per distinct trigram + decimal sums ⇒ oracle-checkable.
    */
  def q77LmQuality(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.LmScore
    val docs = documents(s, dir)
    val model = LmScore.trainTrigramModel(docs.where(col("doc_id") >= 100), col("text"))
    LmScore.scoreDocs(docs.where(col("doc_id") < 100), "doc_id", col("text"), model)
      .select(col("id").as("doc_id"), col("n_tri"),
        fl(col("avg_logp") * 1000, 0).as("lp_m"))
      .orderBy(col("doc_id"))
  }

  /** Q78 — URL/domain hygiene (crawl-data curation): deterministic URLs
    * planted from doc_id (q60's planted-input pattern), domains extracted
    * (lower-cased, www-stripped) and screened against a blocklist with
    * subdomain suffix semantics. All RE2-portable expressions.
    */
  def q78UrlFilter(s: SparkSession, dir: String): DataFrame = {
    val pool = Seq("spamfarm.example", "news.goodsite.example", "www.mirror.example",
      "ads.example", "docs.example", "tracker.ads.example", "blog.example")
    documents(s, dir).where(col("doc_id") < 300)
      .withColumn("url",
        when(col("doc_id") % 11 === 0, lit("not a url"))
          .otherwise(concat(lit("https://"),
            element_at(lit(pool.toArray), (col("doc_id") % 7).cast("int") + 1),
            lit("/p/"), col("doc_id").cast("string"))))
      .withColumn("domain", TextFunctions.urlDomain(col("url")))
      .withColumn("blocked",
        TextFunctions.domainBlocked(col("domain"), Seq("spamfarm.example", "ads.example")))
      .select(col("doc_id"), col("domain"), col("blocked"))
      .orderBy(col("doc_id"))
  }

  /** Q79 — token-share rebalancing (data mixing): the corpus downsampled
    * so kept token mass targets en 50% / de 30% / fr 20% (es/zh dropped —
    * the mix is the spec). Thresholds derive from exact token sums with
    * floor-to-long arithmetic the oracle replays bit-for-bit.
    */
  def q79Rebalance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = documents(s, dir)
      .select(col("doc_id"), col("lang"),
        size(TextFunctions.wordTokens(col("text"))).cast("long").as("n_tok"))
    Sampling.rebalanceTokenShares(docs, col("lang"), col("doc_id"), col("n_tok"),
        targetShares = Map("en" -> 0.5, "de" -> 0.3, "fr" -> 0.2), salt = "mix1")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("tokens_kept"))
      .orderBy(col("lang"))
  }

  /** Q80 — HTML → text extraction (crawl ingestion): deterministic HTML
    * planted around each doc's text (q60's planted-input pattern) with
    * script/style blocks, comments, tags and entities; extraction strips
    * to prose. Hash-compared via md5 of the extracted text.
    */
  def q80HtmlExtract(s: SparkSession, dir: String): DataFrame = {
    val html = concat(
      lit("<html><head><title>t</title></head><body>"),
      lit("<script>var x = 1 < 2;</script><style>p { color: red; }</style>"),
      lit("<!-- hidden --><h1>Doc &amp; "), col("doc_id").cast("string"),
      lit("</h1><p class=\"main\">"), substring(col("text"), 1, 200),
      lit("</p><div>&lt;tag&gt; &quot;q&quot; &#39;a&#39;&nbsp;end</div></body></html>"))
    documents(s, dir).where(col("doc_id") < 300)
      .withColumn("extracted", TextFunctions.stripHtml(html))
      .select(col("doc_id"), length(col("extracted")).as("n_chars"),
        substring(md5(col("extracted")), 1, 16).as("text_h"))
      .orderBy(col("doc_id"))
  }

  /** Q81 — REAL audio decode (multimodal, the q45 pattern applied to WAV):
    * audio rows carry actual RIFF/WAV PCM16 containers of formula samples;
    * javax.sound.sampled parses them back and the probe emits exact integer
    * sample statistics. PCM is lossless and the samples closed-form in
    * (id, i), so DuckDB recomputes amp_sum from the formula — a full
    * encode→container→decode round trip, hash-checked end-to-end.
    */
  def q81AudioDecode(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import graft.sources.Multimodal
    Multimodal.decodeAudioStats(Multimodal.syntheticMedia(s, 100))
      .orderBy(col("media_id"))
  }

  /** Q82 — C4-style corpus-level line dedup: synthesize line breaks the
    * q14 way (replace ' table '/' row ' with a newline), then keep the
    * FIRST occurrence of every distinct line across ALL documents and
    * rebuild each document from its survivors (Dedup.dedupLinesAcrossCorpus;
    * Raffel et al. 2020 §2.2). Full rebuilt text is hash-compared.
    */
  def q82LineDedup(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lined = docs.select(col("doc_id"),
      regexp_replace(col("text"), " (table|row) ", "\n").as("text"))
    graft.operators.Dedup.dedupLinesAcrossCorpus(lined, "doc_id", "text", "\n")
      .orderBy(col("doc_id"))
  }

  /** Q83 — RefinedWeb-style boilerplate stripping: lines appearing in MORE
    * THAN one distinct document (synthesized breaks, q82's convention) are
    * removed from every document; survivors keep their order. The
    * complement of q82's keep-first dedup (Dedup.stripBoilerplateLines).
    */
  def q83BoilerplateStrip(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val lined = docs.select(col("doc_id"),
      regexp_replace(col("text"), " (table|row) ", "\n").as("text"))
    graft.operators.Dedup.stripBoilerplateLines(lined, "doc_id", "text", maxDocFreq = 1)
      .orderBy(col("doc_id"))
  }

  /** Q84 — Gopher repetition metrics (Rae et al. 2021 Table A1 family):
    * per-doc ppm of characters covered by the most frequent 2-gram and by
    * all duplicated 2-grams / 5-grams, exact integer quotients
    * (TextAnalysis.ngramRepetition over the shared word tokenization).
    */
  def q84NgramRepetition(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val toks = TextFunctions.wordTokens(col("text"))
    TextAnalysis.ngramRepetition(docs, "doc_id", toks, 2)
      .join(TextAnalysis.ngramRepetition(docs, "doc_id", toks, 5), Seq("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Q85 — ExactSubstr duplicate-span removal (Lee et al. 2022): 10-token
    * windows duplicated across the corpus are removed from every
    * non-canonical occurrence; the earliest copy survives. Full rebuilt
    * text hash-compared (Dedup.removeDuplicateSpans).
    */
  def q85DuplicateSpans(s: SparkSession, dir: String): DataFrame =
    graft.operators.Dedup.removeDuplicateSpans(
        Tables.documents(s, dir), "doc_id", "text", spanTokens = 10)
      .orderBy(col("doc_id"))

  /** Q86 — DSIR importance weights (Xie et al. 2023): docs 0–49 are the
    * "target domain" sample, the whole table the raw corpus; per-doc
    * Σ ln(p_target/p_raw) over hashed uni+bigram buckets, decimal-summed,
    * reported milli-floored (the q77 discipline)
    * (Sampling.dsirWeights).
    */
  def q86DsirWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    graft.operators.Sampling.dsirWeights(
        docs, docs.where(col("doc_id") < 50), "doc_id", col("text"), buckets = 1024)
      .select(col("doc_id"), col("n_feats"),
        fl(col("weight") * 1000, 0).as("w_m"))
      .orderBy(col("doc_id"))
  }

  /** Q87 — SemDeDup (Abbas et al. 2023): assign embeddings to the q30 seed
    * centroids, prune within-cluster pairs with cosine ≥ 0.45 (the fixture
    * geometry's near-dup band — real embedding spaces use ~0.95+), keep the
    * min id per semantic group (Dedup.semanticDedup). Survivor id list is
    * hash-compared; the oracle resolves components with a recursive
    * transitive closure.
    */
  def q87SemanticDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int").as("cid"), col("embedding").as("cv"))
    graft.operators.Dedup.semanticDedup(emb, "vec_id", "embedding", cents, 0.45)
      .select(col("vec_id")).orderBy(col("vec_id"))
  }

  /** Q88 — the CURATION FUNNEL, end to end: Gopher rule gate → trigram-LM
    * scoring (model trained on the doc_id ≥ 100 reference slice) → keep
    * the top half of survivors by score via the shuffle-free global rank.
    * One probe proving the quality operators COMPOSE into the pipeline
    * they exist for; every stage's verdict is emitted per doc and
    * hash-compared.
    */
  def q88CurationFunnel(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CheckpointStrategy, LmScore, Ranks}
    // gopher verdicts are consumed by the scoring filter AND the final
    // per-doc join — checkpoint so the regex-heavy rules run once.
    // Strategy.Local is a DELIBERATE single-JVM choice: this is the probe
    // harness on local[32]; a cluster pipeline composes the same operators
    // with Reliable/Parquet (strategy matrix spec'd in DedupSpec)
    val docs = CheckpointStrategy.materialize(documents(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .withColumn("gopher_pass",
        TextAnalysis.gopherRulesPass(col("text"), col("toks")))
      .drop("toks"), CheckpointStrategy.Local)
    val model = LmScore.trainTrigramModel(
      documents(s, dir).where(col("doc_id") >= 100), col("text"))
    // materialize ONCE: three consumers (rank, count, join) would each
    // replay the train+score explode pipeline otherwise — the frame itself
    // is survivor-count rows, tiny
    val scored = CheckpointStrategy.materialize(
      // fused kernel: the checkpoint materializes every score anyway, so
      // the lazy shape's prunability buys nothing here (r20, guide §4)
      LmScore.scoreDocsFused(docs.where(col("gopher_pass")), "doc_id",
          col("text"), model)
        .select(col("id").as("doc_id"), col("avg_logp")),
      CheckpointStrategy.Local) // same deliberate single-JVM choice
    val ranked = Ranks.globalRank(scored,
      Seq(col("avg_logp").desc, col("doc_id").asc), "rnk")
    val total = scored.agg(count(lit(1)).as("_m"))
    val kept = ranked.crossJoin(broadcast(total))
      // rnk·2 ≤ m+1 ⟺ rnk ≤ ⌈m/2⌉, in pure integer arithmetic
      .withColumn("keep", col("rnk") * 2 <= col("_m") + 1)
    docs.select(col("doc_id"), col("gopher_pass"))
      .join(kept.select(col("doc_id"), col("rnk"), col("keep"),
          fl(col("avg_logp") * 1000, 0).as("lp_m")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("gopher_pass").cast("int").as("gopher_pass"),
        coalesce(col("lp_m"), lit(-999999.0)).as("lp_m"),
        coalesce(col("rnk"), lit(0L)).as("rnk"),
        coalesce(col("keep").cast("int"), lit(0)).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Q89 — Unicode NFC normalization (the native codegen'd expression) vs
    * DuckDB's nfc_normalize: fixture text is ASCII, so a decomposed
    * combining-acute suffix is appended in-query on BOTH sides; md5 of the
    * normalized result is compared per doc.
    */
  def q89NfcNormalize(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .select(col("doc_id"),
        md5(TextFunctions.normalizeUnicode(
          // DECOMPOSED e + combining acute, same bytes the oracle appends
          concat(col("text"), lit(" cafe\u0301 test")), "NFC")).as("nfc_md5"))
      .orderBy(col("doc_id"))

  /** Q90 — correlated SCALAR subquery (TPC-H Q17 shape): lineitems whose
    * quantity is below 20% of their part's average quantity, revenue per
    * brand. Written as a genuine correlated subquery so Catalyst's
    * decorrelation (RewriteCorrelatedScalarSubquery) turns the per-row
    * lookup into one aggregate + join — the plan a hand-rewrite would
    * produce, without the user doing the rewrite. Deterministic cross-
    * engine: quantities are integer-valued doubles, so avg = exact-sum /
    * count is order-independent; revenue sums go through DECIMAL(18,2).
    */
  def q90CorrelatedScalar(s: SparkSession, dir: String): DataFrame = {
    lineitem(s, dir).createOrReplaceTempView("graft_li_corr")
    part(s, dir).createOrReplaceTempView("graft_part_corr")
    s.sql("""
      SELECT p_brand,
             CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_lowqty_price,
             count(*) AS n_items
      FROM graft_li_corr, graft_part_corr
      WHERE p_partkey = l_partkey
        AND l_quantity < (SELECT 0.2 * avg(l2.l_quantity)
                          FROM graft_li_corr l2
                          WHERE l2.l_partkey = p_partkey)
      GROUP BY p_brand ORDER BY p_brand""")
  }

  /** Q91 — correlated EXISTS subquery (TPC-H Q4 shape): orders with at
    * least one returned lineitem, counted per priority. Catalyst rewrites
    * the EXISTS into a left-semi join (RewritePredicateSubquery) — no
    * per-row probing survives in the physical plan.
    */
  def q91ExistsSubquery(s: SparkSession, dir: String): DataFrame = {
    orders(s, dir).createOrReplaceTempView("graft_ord_ex")
    lineitem(s, dir).createOrReplaceTempView("graft_li_ex")
    s.sql("""
      SELECT o_orderpriority, count(*) AS n_orders
      FROM graft_ord_ex o
      WHERE EXISTS (SELECT 1 FROM graft_li_ex l
                    WHERE l.l_orderkey = o.o_orderkey AND l.l_returnflag = 'R')
      GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }

  /** Q92 — binary (sign-bit) embedding search: 64 dims pack into ONE long
    * (32× smaller than float32), candidates ranked by XOR-popcount Hamming
    * distance (ties by id), exact-cosine rescore of the survivors. The
    * binary tier is the cheapest first-stage ANN filter at 100 TB — the
    * candidate scan moves 8 bytes per vector. Fully integer until the
    * rescore, so the probe is exactly oracle-checkable.
    */
  def q92BinaryHamming(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.binaryTopK(emb.where(col("vec_id") =!= 0), "vec_id", "embedding",
        q, dim = 64, k = 5, rescoreFactor = 4)
      .select(col("vec_id"), col("hamming"),
        fl(col("score") * 1000, 0).as("cos_m"))
  }

  /** Q93 — matryoshka funnel retrieval (Kusupati et al. 2022): shortlist
    * by cosine on the first 16 dims (reads a quarter of the vector bytes),
    * exact-rescore the shortlist at full 64 dims. Same candidate-then-
    * verify shape as q92's binary tier, one rung up the precision ladder.
    */
  def q93MatryoshkaFunnel(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val q = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.matryoshkaTopK(emb.where(col("vec_id") =!= 0), "vec_id", "embedding",
        q, prefixDim = 16, k = 5, rescoreFactor = 4)
      .select(col("vec_id"),
        fl(col("prefix_score") * 1000, 0).as("cosp_m"),
        fl(col("score") * 1000, 0).as("cos_m"))
  }

  /** Q94 — temperature-damped language mixing (Conneau & Lample 2019):
    * keep rates ∝ share^0.5 / share, scaled so the rarest language keeps
    * everything; selection is content-addressed (q61's portable hash), so
    * the kept set — not just the counts — replays exactly in the oracle.
    */
  def q94TemperatureMix(s: SparkSession, dir: String): DataFrame =
    Sampling.temperatureSample(documents(s, dir), col("lang"), col("doc_id"),
        alpha = 0.5, salt = "temp1")
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_kept"),
        // md5 of the kept doc_id list: proves row-level (not just count)
        // agreement — sort_array makes the aggregation order-independent
        md5(concat_ws(",", sort_array(collect_list(col("doc_id")))))
          .as("kept_ids_md5"))
      .orderBy(col("lang"))

  /** Q95 — materialized inverted index over the corpus: per term, true
    * document frequency plus the first 10 postings (id:tf, doc-id order).
    * minDf=60 keeps the probe output to the common-term head; the
    * operator computes df BEFORE the cap, which the probe checks by
    * emitting both df and the kept-postings count.
    */
  def q95InvertedIndex(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    Search.buildInvertedIndex(docs, "doc_id", "toks",
        minDf = 60L, maxPostingsPerTerm = Some(10))
      .select(col("term"), col("df"),
        size(col("postings")).as("n_kept"),
        concat_ws(",", transform(col("postings"),
          p => concat(p.getField("id").cast("string"), lit(":"),
            p.getField("tf").cast("string")))).as("postings_str"))
      .orderBy(col("term"))
  }

  /** Q96 — TPC-H Q22 shape: uncorrelated scalar-subquery threshold plus
    * correlated NOT EXISTS, in one query. Catalyst evaluates the scalar
    * once (a one-row broadcast, not per-row) and rewrites the NOT EXISTS
    * to a left-anti join. The threshold uses the repo's exact-decimal
    * sum / count discipline, so the boundary comparison is bit-identical
    * cross-engine (a plain double avg would be combine-order-dependent).
    */
  def q96ScalarAnti(s: SparkSession, dir: String): DataFrame = {
    customer(s, dir).createOrReplaceTempView("graft_cust_sa")
    events(s, dir).createOrReplaceTempView("graft_ev_sa")
    s.sql("""
      SELECT c_mktsegment, count(*) AS n_cust,
             CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) AS total_bal
      FROM graft_cust_sa c
      WHERE c_acctbal > (SELECT CAST(sum(CAST(c_acctbal AS DECIMAL(18,2))) AS DOUBLE) / count(*)
                         FROM graft_cust_sa WHERE c_acctbal > 0.0)
        AND NOT EXISTS (SELECT 1 FROM graft_ev_sa e WHERE e.user_id = c.c_custkey)
      GROUP BY c_mktsegment ORDER BY c_mktsegment""")
  }

  /** Q97 — BM25 through the PERSISTED text index (Search.writeTextIndex):
    * the index is staged once per sf dir (idempotent, keyed by the source
    * parquet size like q50's staging), and the probe times the READ path —
    * term-pruned postings scan, broadcast hit join, one per-doc sum. Same
    * formula and decimal discipline as q72, so the oracle recomputes from
    * the documents table directly; scores must agree bit-for-bit.
    */
  def q97Bm25FromIndex(s: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    // "2" suffix = layout version (df-free postings + long stats); a
    // stale staged index from the previous layout must not be reused
    val (idxDir, fresh, commitStaged) = stagedRoot("q97idx2", dir, src)
    if (!fresh) {
      val docs = documents(s, dir)
        .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
      Search.writeTextIndex(docs, "doc_id", "toks", idxDir.toString)
      commitStaged()
    }
    Search.bm25TopKFromIndex(s, idxDir.toString,
        queryTerms = Seq("data", "model", "search"), k = 10)
      .select(col("id").as("doc_id"), fl(col("score") * 1000, 0).as("score_m"))
  }

  /** Q98 — z-order (Morton) clustering key (Layout.zValue + gridCoord):
    * part and supplier keys mapped onto a 256×256 grid (integer-exact
    * min-max scaling, multiply-before-divide) and bit-interleaved into
    * one LONG. This key is what [[graft.operators.Layout.writeZOrdered]]
    * range-partitions on so conjunctive part+supplier range predicates
    * prune files at scan time; the probe pins the key arithmetic
    * bit-for-bit against the DuckDB spelling. Pure codegen'd integer
    * ops — one projection, no shuffle before the top-k.
    */
  def q98ZOrderKey(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Layout
    val li = lineitem(s, dir)
    val b = li.agg(
      min(col("l_partkey")).cast("long"), max(col("l_partkey")).cast("long"),
      min(col("l_suppkey")).cast("long"), max(col("l_suppkey")).cast("long")).head()
    val px = Layout.gridCoord(col("l_partkey"), b.getLong(0), b.getLong(1), 8)
    val sx = Layout.gridCoord(col("l_suppkey"), b.getLong(2), b.getLong(3), 8)
    li.select(col("l_orderkey"), col("l_linenumber"),
        Layout.zValue(Seq(px, sx), 8).as("z"))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(128)
  }

  /** Q99 — MMR diversified re-rank (Search.mmrRerank) over exact top-20
    * candidate lists for three query vectors: λ=0.7, k=5. The oracle
    * replays the greedy argmax as a DuckDB recursive CTE carrying the
    * picked-list; identical cosine arithmetic (q15-proven) + identical
    * tie order (score DESC, rel DESC, id ASC) make the selection — not
    * just the scores — cross-engine exact.
    */
  def q99MmrRerank(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val qs = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("qid"), col("embedding").as("qv"))
    val cand = Search.topKPerQuery(emb.where(col("vec_id") >= 3), "embedding",
      qs, "qid", "qv", k = 20, tiebreak = Seq("vec_id"))
    Search.mmrRerank(cand, "query_id", "vec_id", "embedding", "score",
        k = 5, lambda = 0.7)
      .select(col("query_id"), col("rank"), col("id").as("vec_id"),
        fl(col("mmr_score") * 1000, 0).as("mmr_m"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** Q100 — snapshot delta for incremental corpus processing
    * (Snapshots.snapshotDelta): the previous "snapshot" is derived from
    * the documents fixture by dropping every 7th doc and staling every
    * 5th (truncated text); the current one drops every 11th-mod-3. The
    * full-outer fingerprint join classifies added/removed/changed/
    * unchanged; the probe aggregates counts + id checksums per status.
    * Fingerprints only ever compare WITHIN an engine, so no cross-engine
    * hash parity is needed — sha256 on both sides for fidelity.
    */
  def q100SnapshotDelta(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    val docs = documents(s, dir)
    val old = docs.where(col("doc_id") % 7 =!= 0)
      .withColumn("text",
        when(col("doc_id") % 5 === 0, substring(col("text"), 1, 100))
          .otherwise(col("text")))
    val cur = docs.where(col("doc_id") % 11 =!= 3)
    Snapshots.snapshotDelta(old, cur, "doc_id",
        Snapshots.fingerprint(col("text")))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("status"))
  }

  /** Q101 — content-addressed train/val/test assignment
    * (Sampling.assignSplit): 80/10/10 over documents by doc_id hash,
    * reduced to per-split counts + id checksums. The md5-60bit hash and
    * the driver-computed long thresholds are the engine-portable pieces
    * q61 already proves; this pins the n-way labeling on top.
    */
  def q101SplitAssign(s: SparkSession, dir: String): DataFrame =
    documents(s, dir)
      .withColumn("split", Sampling.assignSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split1"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("split"))

  /** Q102 — REAL video decode (the q45/q81 pattern for AVI): video rows
    * carry genuine RIFF/AVI containers with uncompressed RGB24 frames
    * (formula pixels per (id, frame, x, y)); Multimodal.decodeAviRgb24
    * parses the container — BITMAPINFOHEADER, movi chunks, bottom-up BGR
    * rows — back to exact integer pixel stats. Uncompressed frames are
    * lossless, so DuckDB recomputes px_sum from the closed-form formula:
    * a full encode→container→decode round trip, hash-checked end-to-end.
    */
  def q102VideoDecode(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import graft.sources.Multimodal
    Multimodal.decodeVideoStats(Multimodal.syntheticMedia(s, 100))
      .orderBy(col("media_id"))
  }

  /** Q103 — per-document character entropy (TextAnalysis.charEntropy):
    * the statistical quality signal, decimal-summed over per-char
    * −p·ln(p) terms so the float result is combine-order independent and
    * engine-portable. One char explode, bounded shuffle keys.
    */
  def q103CharEntropy(s: SparkSession, dir: String): DataFrame =
    TextAnalysis.charEntropy(documents(s, dir), "doc_id", col("text"))
      .select(col("doc_id"), col("n_chars"),
        fl(col("entropy") * 1000, 0).as("ent_m"))
      .orderBy(col("doc_id"))

  /** Q104 — key-skew diagnosis (Joins.keySkewStats): the pre-flight check
    * for every salted shape — top-10 hottest event user_ids with exact
    * integer ppm shares. Partial-aggregatable count, broadcast total,
    * TakeOrdered top-k.
    */
  def q104SkewStats(s: SparkSession, dir: String): DataFrame =
    operators.Joins.keySkewStats(events(s, dir), col("user_id"), topK = 10)
      .select(col("key").as("user_id"), col("n"), col("share_ppm"))

  /** Q105 — canonical-URL dedup (TextFunctions.canonicalUrl): planted
    * URLs exercise every rule (scheme/host case, www, :443, fragments,
    * utm/gclid/fbclid strip, param sort, trailing slash), then URL-level
    * dedup picks the min-doc_id representative per canonical key. The
    * oracle replays the same regex chain (RE2-portable set).
    */
  def q105CanonicalUrl(s: SparkSession, dir: String): DataFrame = {
    val scheme = when(col("doc_id") % 2 === 0, lit("HTTPS")).otherwise(lit("https"))
    val host = when(col("doc_id") % 3 === 0, lit("WWW.Site.Example"))
      .when(col("doc_id") % 3 === 1, lit("site.example"))
      .otherwise(lit("site.example:443"))
    val path = concat(lit("/a/"), (col("doc_id") % 50).cast("string"),
      when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")))
    val query = when(col("doc_id") % 5 === 0, lit("?utm_source=x&b=2&a=1"))
      .when(col("doc_id") % 5 === 1, lit("?a=1&b=2"))
      .when(col("doc_id") % 5 === 2, lit("?b=2&a=1&gclid=zz"))
      .when(col("doc_id") % 5 === 3, lit("?fbclid=q"))
      .otherwise(lit(""))
    val frag = when(col("doc_id") % 6 === 0, lit("#sec")).otherwise(lit(""))
    documents(s, dir)
      .withColumn("url", concat(scheme, lit("://"), host, path, query, frag))
      .withColumn("canon", TextFunctions.canonicalUrl(col("url")))
      .withColumn("rep_id", min(col("doc_id")).over(Window.partitionBy(col("canon"))))
      .select(col("doc_id"), col("canon"), col("rep_id"),
        (col("doc_id") === col("rep_id")).cast("int").as("kept"))
      .orderBy(col("doc_id"))
  }

  /** Q106 — exact-k per-group sampling (Sampling.exactKPerGroup): exactly
    * 3 events per event_type, drawn by content hash (engine-stable), ties
    * to the smaller id. The oracle replays the identical md5-60bit rank.
    */
  def q106ExactKSample(s: SparkSession, dir: String): DataFrame =
    Sampling.exactKPerGroup(
        events(s, dir).select(col("event_id"), col("event_type")),
        col("event_type"), col("event_id"), k = 3, salt = "ev1")
      .select(col("event_type"), col("sample_rank"), col("event_id"))
      .orderBy(col("event_type"), col("sample_rank"))

  /** Q107 — robust outlier stats (median + MAD, the data-quality
    * primitive that survives the heavy tails plain stddev doesn't):
    * everything runs in EXACT integer cents (q64's discipline), so the
    * interpolated medians land on .5 steps, absolute deviations on .25
    * steps — all exactly representable doubles — and even the
    * `ad > 3·MAD` outlier BOUNDARY compares exactly cross-engine (no
    * float-flap risk on the flag counts). Three small per-type passes;
    * MAD needs two quantiles by definition.
    */
  def q107RobustOutliers(s: SparkSession, dir: String): DataFrame = {
    val cents = (dec2(col("value")) * 100).cast("decimal(12,0)").cast("double")
    val ev = events(s, dir).select(col("event_type"), cents.as("cents"))
    val med = ev.groupBy(col("event_type"))
      .agg(expr("percentile(cents, 0.5)").as("med"))
    val j = ev.join(med, "event_type")
      .withColumn("ad", abs(col("cents") - col("med")))
    val mad = j.groupBy(col("event_type"))
      .agg(expr("percentile(ad, 0.5)").as("mad"))
    j.join(mad, "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), min(col("med")).as("med_c"),
        min(col("mad")).as("mad_c"),
        sum(when(col("ad") > lit(3.0) * col("mad"), 1L).otherwise(0L)).as("n_out"))
      .orderBy(col("event_type"))
  }

  /** Q108 — column profiling (Profiling.profile): nulls, exact
    * distincts, stringified min/max for four lineitem columns in ONE
    * aggregation pass (a single Expand drives the multiple distincts).
    */
  def q108Profile(s: SparkSession, dir: String): DataFrame =
    graft.operators.Profiling.profile(lineitem(s, dir),
        Seq("l_orderkey", "l_partkey", "l_quantity", "l_returnflag"))
      .orderBy(col("col_name"))

  /** Q109 — behavioral funnel analysis (view → click → purchase, each
    * stage within 1 h of the previous stage's FIRST qualifying event):
    * the product-analytics shape the event stream exists for. Per-stage
    * min-aggregates keyed on user_id, then user-keyed joins of the
    * (small) per-user stage frames — never event×event; conversion as an
    * exact integer ppm. All arithmetic in epoch-µs longs.
    */
  def q109Funnel(s: SparkSession, dir: String): DataFrame = {
    val hourUs = 3600000000L
    val ev = eventsUs(s, dir).select(col("user_id"), col("event_type"), col("us"))
    val v = ev.where(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("us")).as("v_us"))
    val c = ev.where(col("event_type") === "click").join(v, "user_id")
      .where(col("us") >= col("v_us") && col("us") <= col("v_us") + lit(hourUs))
      .groupBy(col("user_id")).agg(min(col("us")).as("c_us"))
    val p = ev.where(col("event_type") === "purchase").join(c, "user_id")
      .where(col("us") >= col("c_us") && col("us") <= col("c_us") + lit(hourUs))
      .groupBy(col("user_id")).agg(min(col("us")).as("p_us"))
    v.agg(count(lit(1)).as("n_view"))
      .crossJoin(c.agg(count(lit(1)).as("n_click")))
      .crossJoin(p.agg(count(lit(1)).as("n_purchase")))
      .withColumn("conv_ppm", // exact integral div — no 2⁵³ double rounding
        call_function("div", col("n_purchase") * lit(1000000L), col("n_view")))
  }

  /** Q110 — weekly retention cohorts (the funnel's longitudinal
    * companion): per epoch-week, active users and how many return the
    * NEXT week. Distinct (user, week) pairs first (the frame every
    * cohort metric shares), then a self-join on (user, week+1) — both
    * sides are the small distinct frame, co-partitioned on user. Exact
    * integer weeks (truncating div on epoch-µs) and exact ppm.
    */
  def q110Retention(s: SparkSession, dir: String): DataFrame = {
    val weekUs = 604800000000L
    val uw = eventsUs(s, dir)
      .select(col("user_id"),
        call_function("div", col("us"), lit(weekUs)).as("wk"))
      .distinct()
    val active = uw.groupBy(col("wk")).agg(count(lit(1)).as("n_active"))
    val ret = uw.as("a")
      .join(uw.as("b"),
        col("a.user_id") === col("b.user_id") && col("b.wk") === col("a.wk") + 1)
      .groupBy(col("a.wk").as("wk")).agg(count(lit(1)).as("n_retained"))
    active.join(ret, Seq("wk"), "left_outer")
      .select(col("wk"), col("n_active"),
        coalesce(col("n_retained"), lit(0L)).as("n_retained"))
      .withColumn("ret_ppm", // exact integral div — no 2⁵³ double rounding
        call_function("div", col("n_retained") * lit(1000000L), col("n_active")))
      .orderBy(col("wk"))
  }

  /** Q111 — exact equi-width histogram of event values (the distribution
    * view that completes the profiling family): 10 buckets over the
    * integer-cents range, bucket = (c−min)·10 div (span+1) — the +1 makes
    * the top edge land in bucket 9 WITHOUT a clamp (no float boundary
    * anywhere). Bounds ride a one-row broadcast; one partial-aggregatable
    * count+sum per bucket.
    */
  def q111Histogram(s: SparkSession, dir: String): DataFrame = {
    val cents = (dec2(col("value")) * 100).cast("decimal(12,0)").cast("long")
    val ev = events(s, dir).select(cents.as("c"))
    val bounds = ev.agg(min(col("c")).as("mn"), max(col("c")).as("mx"))
    ev.crossJoin(broadcast(bounds))
      .withColumn("bucket",
        call_function("div", (col("c") - col("mn")) * 10, col("mx") - col("mn") + 1))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("cents_sum"))
      .orderBy(col("bucket"))
  }

  /** Q112 — seeded DETERMINISTIC LSH near-dup pairs (V3's hash-matchable
    * twin of the MLlib q43 tier): signed random projections over int8
    * codes with an md5-parity ±1 hyperplane family — integer buckets,
    * integer dots, so the DuckDB oracle replays the exact pair set,
    * candidate generation and all (Search.seededLshPairs). q43 keeps
    * covering the MLlib surface; this probe closes its oracle gap.
    */
  def q112SeededLsh(s: SparkSession, dir: String): DataFrame =
    operators.Search.seededLshPairs(embeddings(s, dir), "vec_id", "embedding",
        dim = 64, numTables = 4, bitsPerTable = 8, simThreshold = 0.3)
      .orderBy(col("id1"), col("id2"))

  /** Q113 — deterministic global corpus shuffle (training-order
    * reproducibility): every doc's position is a pure function of
    * (salt, doc_id) — md5-60bit key through the shuffle-free range-exchange
    * global rank — so epoch orders replay bit-for-bit across engines,
    * retries and partitionings. The oracle recomputes the same permutation
    * with a row_number over the same hash.
    */
  def q113ShuffleOrder(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.shuffleOrder(
        documents(s, dir).select(col("doc_id")), col("doc_id"), salt = "epoch1")
      .orderBy(col("shuffle_rank"))

  /** Q114 — sketch-nominated EXACT heavy hitters (the frequency leg of the
    * persisted sketch store, Sketches.appendFrequencySketches): the fixture
    * is uniform by construction (TESTDATA.md — no Zipf anywhere), so the
    * probe derives a deterministic skewed stream from events — six hot keys
    * carrying 75% of rows plus a per-event singleton tail (~N/4 distinct
    * items) that forces real Misra-Gries purges at maxMapSize=1024. Three
    * per-batch sketches are staged idempotently (q97's source-size marker
    * discipline), the merged sketch nominates candidates under the
    * no-false-negative guarantee (threshold 1% of N ≫ maxError ≤ 0.35% of
    * N at ANY scale — the bound is relative, which is why this works
    * unchanged at 100 TB), and one broadcast semi-join back to the stream
    * exact-counts only the nominated items. The answer is EXACT, so the
    * oracle is the plain GROUP BY ... HAVING the sketch path avoids running
    * over the full stream.
    */
  def q114HeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val item = when(col("event_id") % 4 < 3,
        concat(lit("hot_"), col("event_id") % 8))
      .otherwise(concat(lit("cold_"), col("event_id"))).as("item")
    def stream = events(s, dir).select(item, col("event_id"))
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (storeDir, fresh, commitStaged) = stagedRoot("q114freq", dir, src)
    if (!fresh) {
      org.apache.commons.io.FileUtils.deleteQuietly(storeDir.toFile)
      val store = storeDir.resolve("sketches").toString
      for (b <- 0 to 2)
        Sketches.appendFrequencySketches(
          stream.where(col("event_id") % 3 === b).withColumn("grp", lit("all")),
          "grp", "item", batchId = s"batch$b", storeDir = store)
      commitStaged()
    }
    val total = stream.count()
    val minCount = total / 100 // 1% support, integer threshold (DuckDB //)
    val cand = Sketches.heavyHitterCandidates(
      s, storeDir.resolve("sketches").toString, minCount = minCount)
    stream
      .join(broadcast(cand.select(col("item"))), Seq("item"), "left_semi")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"))
      .where(col("n_events") >= minCount) // drop sketch false positives
      .orderBy(col("item"))
  }

  /** Q115 — binned interval join (Joins.binnedIntervalJoin — the scale
    * path for J6's theta-join semantics): purchases inside ±4-minute
    * windows around error events of users < 12, through the
    * bin-equi-join-then-exact-filter operator instead of the raw theta
    * join Catalyst can only nested-loop. binSize = the window width, so
    * each interval explodes to ≤ 2 bins. The oracle is the plain range
    * join — the operator must be result-identical to it (the equivalence
    * the JoinsCliSpec proves on adversarial boundaries).
    */
  def q115BinnedRangeJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = eventsUs(s, dir)
    val intervals = ev.where(col("event_type") === "error" && col("user_id") < 12)
      .select(col("event_id").as("err_id"),
        (col("us") - 240000000L).as("lo"), (col("us") + 240000000L).as("hi"))
    val points = ev.where(col("event_type") === "purchase")
      .select(col("us").as("p_us"), col("value").as("p_value"))
    operators.Joins.binnedIntervalJoin(points, "p_us", intervals, "lo", "hi",
        binSize = 480000000L)
      .groupBy(col("err_id"))
      .agg(count(lit(1)).as("n_nearby"),
        round(dsum2(col("p_value")), 2).as("sum_value"))
      .orderBy(col("err_id"))
  }

  /** Q116 — EXACT Jaccard-threshold join via prefix filtering
    * (Dedup.jaccardJoinPrefix — the exact sibling of q21's MinHash tier):
    * every pair of docs (doc_id < 800) with 3-shingle Jaccard ≥ 0.25,
    * through df-ordered prefix candidates + exact verify. The oracle is
    * the brute-force all-pairs join with the same integer cross-multiplied
    * threshold — the operator must reproduce it row for row (the prefix
    * filter is sound, not a heuristic).
    */
  def q116JaccardJoin(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir).where(col("doc_id") < 800)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), TextFunctions.shingles(col("toks"), 3).as("sh"))
    Dedup.jaccardJoinPrefix(docs, "doc_id", "sh", thetaPpm = 250000L)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q117 — deterministic weighted sampling (sequential-Poisson priority
    * scheme, Sampling.weightedSamplePerGroup): top-25 docs per lang with
    * inclusion odds ∝ n_chars. The priority is an integer quotient of the
    * portable 40-bit hash — no ln/pow — so the oracle replays the exact
    * selection, rank for rank.
    */
  def q117WeightedSample(s: SparkSession, dir: String): DataFrame =
    operators.Sampling.weightedSamplePerGroup(
        documents(s, dir).select(col("doc_id"), col("lang"), col("n_chars")),
        col("lang"), col("doc_id"), col("n_chars"), k = 25, salt = "ws1")
      .select(col("lang"), col("doc_id"), col("priority"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank"))

  /** Q118 — binned interval-OVERLAP join (Joins.binnedOverlapJoin, R118's
    * two-sided sibling): supplier 1's ship windows [shipdate, shipdate +
    * linenumber days] against supplier 2's, overlap counted per left line
    * item. Exactly-once pairing comes from the first-shared-bin rule, not
    * a distinct pass; the oracle is the raw two-sided theta join.
    */
  def q118OverlapJoin(s: SparkSession, dir: String): DataFrame = {
    val li = lineitem(s, dir)
    // day-granularity epoch (datediff from a fixed date): timezone-free on
    // the fixture's TIMESTAMP_NTZ ship dates, integer-exact in both engines
    val days = datediff(col("l_shipdate").cast("date"), lit("1992-01-01")).cast("long")
    def side(k: Int, p: String) = li.where(col("l_suppkey") === k)
      .select(col("l_orderkey").as(s"${p}_orderkey"),
        col("l_linenumber").as(s"${p}_linenumber"),
        days.as(s"${p}_lo"),
        (days + col("l_linenumber")).as(s"${p}_hi"))
    operators.Joins.binnedOverlapJoin(
        side(1, "a"), "a_lo", "a_hi", side(2, "b"), "b_lo", "b_hi",
        binSize = 7L)
      .groupBy(col("a_orderkey"), col("a_linenumber"))
      .agg(count(lit(1)).as("n_overlaps"))
      .orderBy(col("a_orderkey"), col("a_linenumber"))
  }

  /** Q119 — seeded-LSH pairs from the PERSISTED incremental index (R125):
    * even vec_ids build the index, odd vec_ids APPEND under the frozen
    * family shape, and pairs read from the materialized bands/codes
    * stores. Build + append ≡ full build ≡ the in-memory operator, so the
    * oracle is exactly q112's DuckDB hash-family replay — the incremental
    * maintenance path itself is what this probe puts under the oracle.
    * Index staged per sfDir, q97's source-size marker discipline.
    */
  def q119LshIndexPairs(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Search
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val (idxDir, fresh, commitStaged) = stagedRoot("q119lsh", dir, src)
    val ix = idxDir.resolve("ix").toString
    if (!fresh) {
      org.apache.commons.io.FileUtils.deleteQuietly(idxDir.toFile)
      val emb = embeddings(s, dir)
      Search.writeSeededLshIndex(emb.where(col("vec_id") % 2 === 0),
        "vec_id", "embedding", dim = 64, ix, numTables = 4, bitsPerTable = 8)
      Search.appendSeededLshIndex(emb.where(col("vec_id") % 2 === 1),
        "vec_id", "embedding", ix)
      commitStaged()
    }
    Search.seededLshPairsFromIndex(s, ix, simThreshold = 0.3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q120 — exact heavy hitters from a COMPACTED sketch store (R126):
    * q114's three frequency-sketch batches, but batches 0–1 fold into one
    * blob per group (`compactSketchStore`) before nomination; candidates
    * merge {compacted, live batch 2}, and the exact-count verify
    * semi-join makes the answer EXACT — so the oracle is the same
    * full-stream exact heavy-hitter SQL as q114. What the probe pins:
    * compaction preserves the no-false-negative nomination, i.e. the
    * store stays correct after its per-batch granularity is gone.
    */
  def q120CompactedHeavyHitters(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    val item = when(col("event_id") % 4 < 3,
        concat(lit("hot_"), col("event_id") % 8))
      .otherwise(concat(lit("cold_"), col("event_id"))).as("item")
    def stream = events(s, dir).select(item, col("event_id"))
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (storeDir, fresh, commitStaged) = stagedRoot("q120freq", dir, src)
    val compacted = storeDir.resolve("compacted").toString
    if (!fresh) {
      org.apache.commons.io.FileUtils.deleteQuietly(storeDir.toFile)
      val store = storeDir.resolve("sketches").toString
      for (b <- 0 to 2)
        Sketches.appendFrequencySketches(
          stream.where(col("event_id") % 3 === b).withColumn("grp", lit("all")),
          "grp", "item", batchId = s"batch$b", storeDir = store)
      Sketches.compactSketchStore(s, store, compacted, "freq",
        Seq("batch0", "batch1"), "batch0-1")
      commitStaged()
    }
    val total = stream.count()
    val minCount = total / 100 // 1% support, integer threshold (DuckDB //)
    val cand = Sketches.heavyHitterCandidates(s, compacted, minCount = minCount)
    stream
      .join(broadcast(cand.select(col("item"))), Seq("item"), "left_semi")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"))
      .where(col("n_events") >= minCount) // drop sketch false positives
      .orderBy(col("item"))
  }

  /** Q121 — LEAKAGE-SAFE splits (Sampling.leakageSafeSplits): near-dup
    * pairs from the exact prefix-Jaccard join (θ = 0.25, docs < 800 to
    * bound the oracle's brute-force pair scan) resolve to connected
    * components, and the train/val/test hash draws on the cluster
    * REPRESENTATIVE — so a near-dup cluster can never straddle a split
    * boundary (train/test contamination, Lee 2022). The oracle recomputes
    * pairs brute-force, closes them with a recursive CTE, and hashes the
    * same representative — any member assigned differently by Spark
    * breaks the per-split id_sum hash.
    */
  def q121LeakageSplits(s: SparkSession, dir: String): DataFrame = {
    val docs = documents(s, dir)
    val shingled = docs.where(col("doc_id") < 800)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .select(col("doc_id"), TextFunctions.shingles(col("toks"), 3).as("sh"))
    val pairs = Dedup.jaccardJoinPrefix(shingled, "doc_id", "sh",
        thetaPpm = 250000L)
      .select(col("id1"), col("id2"))
    Sampling.leakageSafeSplits(docs, "doc_id", pairs,
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1), salt = "split7")
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("id_sum"))
      .orderBy(col("split"))
  }

  /** Q122 — perceptual IMAGE dedup end-to-end (Multimodal.dHash64 +
    * Dedup.hammingNearDupPairs): 50 real PNGs, each staged TWICE (output
    * ids i and i+1000), hashed from decoded pixels on executors, paired
    * by the exact banded Hamming join at t = 3. The seeds are greedily
    * selected driver-side to be pairwise > 3 dHash bits apart — a pure
    * function of the deterministic pixel formula, so the selection is
    * engine/rerun-stable and the construction guarantees EXACTLY the 50
    * planted (i, i+1000, 0) pairs: the oracle needs no image decoding,
    * only the construction.
    */
  def q122ImageDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 50 && cand < 500) {
      val h = Multimodal.dHash64(Multimodal.synthPng(cand))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} diverse seeds in 0..499")
    val rows = seeds.map(_._1).zipWithIndex.flatMap { case (seed, i) =>
      Seq((i.toLong, seed), (i + 1000L, seed))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed")
      .as[(Long, Long)]
      .map { case (id, seed) => (id, Multimodal.synthPng(seed)) }
      .toDF("media_id", "content")
    val hashes = Multimodal.imageDHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "dhash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q123 — perceptual AUDIO dedup (Multimodal.envelopeHash64 +
    * Dedup.hammingNearDupPairs): the q122 construction for the audio
    * modality — 50 real WAV clips with greedily-selected envelope-diverse
    * formula seeds, each staged twice (ids i, i+1000), hashed from
    * decoded PCM on executors, paired by the exact banded Hamming join.
    * The oracle again needs no audio decoding: the construction fixes the
    * pair set to exactly the planted (i, i+1000, 0) rows.
    */
  def q123AudioDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nSamples = 2000
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 50 && cand < 500) {
      val h = Multimodal.envelopeHash64(Multimodal.synthWavAm(cand, nSamples))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} diverse seeds in 0..499")
    val rows = seeds.map(_._1).zipWithIndex.flatMap { case (seed, i) =>
      Seq((i.toLong, seed), (i + 1000L, seed))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed")
      .as[(Long, Long)]
      .map { case (id, seed) => (id, Multimodal.synthWavAm(seed, nSamples)) }
      .toDF("media_id", "content")
    val hashes = Multimodal.audioEnvelopeHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "ahash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q124 — perceptual VIDEO dedup (Multimodal.videoDHash64 +
    * Dedup.hammingNearDupPairs): the q122/q123 construction for the video
    * modality — 50 real RIFF/AVI RGB24 clips with greedily-selected
    * first-frame-dHash-diverse formula seeds, staged twice each, decoded
    * and hashed on executors, paired by the exact banded Hamming join.
    * Construction-derived oracle, same as its image/audio siblings.
    */
  def q124VideoDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nFrames = 3
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 50 && cand < 500) {
      val h = Multimodal.videoDHash64(Multimodal.synthAvi(cand, nFrames))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} diverse seeds in 0..499")
    val rows = seeds.map(_._1).zipWithIndex.flatMap { case (seed, i) =>
      Seq((i.toLong, seed), (i + 1000L, seed))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed")
      .as[(Long, Long)]
      .map { case (id, seed) => (id, Multimodal.synthAvi(seed, nFrames)) }
      .toDF("media_id", "content")
    val hashes = Multimodal.videoDHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "vhash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q125 — FULL-SEQUENCE video dedup (Multimodal.videoSequenceDHashes +
    * Dedup.sequenceVoteNearDupPairs), the case q124's first-frame keyframe
    * heuristic cannot decide: 25 six-frame clips, each staged three ways —
    * id i (the clip), id i+1000 (identical restage, the planted pair) and
    * id i+2000 (a SPLICE: clip i's exact opening frame, then a decoy
    * tail). Aligned-frame voting at minVoteFrac 0.8 accepts the restage
    * (6/6 frames) and rejects the splice (1/6) that a first-frame hash
    * would have merged. Seeds are greedily selected driver-side so that
    * EVERY aligned frame pair across different seeds is > 3 dHash bits
    * apart (the q122 selection discipline extended to sequences, over the
    * same deterministic pixel formula) — the construction therefore fixes
    * the exact result to the 25 planted (i, i+1000, 6, 6, 1.0) rows and
    * the oracle needs no video decoding.
    */
  def q125VideoSequenceDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nFrames = 6
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var cand = 0L
    while (seeds.size < 50 && cand < 1000) {
      val hs = Multimodal
        .videoFrameDHashes(Multimodal.synthAvi(cand, nFrames), 1).map(_._2)
      if (seeds.forall { case (_, ph) =>
          ph.lazyZip(hs).forall((a, b) => java.lang.Long.bitCount(a ^ b) > 3) })
        seeds += ((cand, hs))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} sequence-diverse seeds in 0..999")
    val base = seeds.take(25).map(_._1).toIndexedSeq
    val decoy = seeds.drop(25).map(_._1).toIndexedSeq
    val rows: Seq[(Long, Long, Long)] = (0 until 25).flatMap { i =>
      Seq((i.toLong, base(i), -1L), (i + 1000L, base(i), -1L),
        (i + 2000L, base(i), decoy(i)))
    }
    val withBytes = rows.toDF("media_id", "seed", "decoy")
      .as[(Long, Long, Long)]
      .map { case (id, seed, dec) =>
        val bytes =
          if (dec < 0) Multimodal.synthAvi(seed, nFrames)
          else Multimodal.synthAviSpliced(seed +: Seq.fill(nFrames - 1)(dec))
        (id, bytes)
      }
      .toDF("media_id", "content")
    val sigs = Multimodal.videoSequenceDHashes(withBytes, "media_id", "content",
      stride = 1)
    Dedup.sequenceVoteNearDupPairs(sigs, "media_id", "frame_idx", "vhash",
        maxHamming = 3, numBands = 4, minVoteFrac = 0.8)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q126 — SHIFT-TOLERANT sequence video dedup
    * (Dedup.shiftedSequenceVoteNearDupPairs), the case q125's aligned
    * voting scores 0: a TRIMMED-INTRO duplicate. 25 eight-frame clips, each
    * staged four ways — id i (the clip), id i+1000 (the clip with its
    * first TWO frames cut: six frames whose content is source frames 2..7,
    * via Multimodal.synthAviTrimmed), id i+2000 (a shifted splice: ONE
    * frame of clip i — source frame 3 — at position 0, then a decoy tail)
    * and id i+3000 (identical restage). Best-offset voting at minVoteFrac
    * 0.7 accepts (i, i+1000) at offset −2 with 6/8 frames, (i, i+3000) at
    * offset 0 with 8/8, and (i+1000, i+3000) at offset +2 with 6/8 —
    * and rejects every shifted splice (1/8). Greedy seed selection
    * enforces (a) > 3 dHash bits between distinct frames of the same seed
    * (kills wrong-offset matches between copies of one clip) and (b) at
    * most TWO ≤ 3-bit frame collisions between any two selected seeds at
    * any content-offset in [-5, 5] (the synth pixel formula's per-frame
    * term is near-uniform per channel, so full cross-seed all-pairs
    * diversity is unattainable — and unnecessary: a spurious pair needs
    * ≥ 5 matching frames at ONE offset to qualify, while (b) caps any
    * cross-seed offset at 2, so the worst composite pair — splice vs
    * splice, mixing up to (i,j)+(decoy_i,j)+(decoy_i,decoy_j) classes at
    * one offset — is capped at 1+1+2 = 4 < 5). The exact result is fixed
    * by construction; the oracle needs no video decoding.
    */
  /** Greedy shift-diverse seed screen shared by q126/q127/q128: a
    * candidate hash sequence is accepted when (a) its distinct positions
    * differ > 3 bits pairwise and (b) vs every ACCEPTED sequence it has
    * ≤ 2 collisions (≤ 3 bits) at any content-offset in [-5, 5] — the
    * exactness margin documented at q126. Returns (base 25, decoy 25).
    */
  private def selectShiftDiverse(tag: String, hashesOf: Long => Seq[Long])
      : (IndexedSeq[Long], IndexedSeq[Long]) = {
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var cand = 0L
    while (seeds.size < 50 && cand < 2000) {
      val hs = hashesOf(cand)
      val selfDiverse = hs.indices.forall(a => (a + 1 until hs.size).forall(b =>
        java.lang.Long.bitCount(hs(a) ^ hs(b)) > 3))
      val crossOk = seeds.forall { case (_, ph) =>
        (-5 to 5).forall { c =>
          ph.indices.count { f =>
            val g = f + c
            g >= 0 && g < hs.size &&
              java.lang.Long.bitCount(ph(f) ^ hs(g)) <= 3
          } <= 2
        }
      }
      if (selfDiverse && crossOk) seeds += ((cand, hs))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} shift-diverse $tag seeds in 0..1999")
    (seeds.take(25).map(_._1).toIndexedSeq, seeds.drop(25).map(_._1).toIndexedSeq)
  }

  /** Computed ONCE per JVM (the derivation is deterministic and q126/q128
    * share it verbatim — decoding ~70 fixture AVIs per probe invocation
    * otherwise repeats driver-side work three times per suite run).
    */
  private lazy val shiftDiverseVideoSeeds: (IndexedSeq[Long], IndexedSeq[Long]) =
    selectShiftDiverse("video", cand => graft.sources.Multimodal
      .videoFrameDHashes(graft.sources.Multimodal.synthAvi(cand, 8), 1).map(_._2))

  private lazy val shiftDiverseAudioSeeds: (IndexedSeq[Long], IndexedSeq[Long]) =
    selectShiftDiverse("audio", cand => graft.sources.Multimodal
      .audioSegmentEnvelopeHashes(
        graft.sources.Multimodal.synthWavAmMixed(cand, 8 * 800), 800).map(_._2))

  def q126VideoShiftedDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nFrames = 8
    val (base, decoy) = shiftDiverseVideoSeeds
    val rows: Seq[(Long, Long, Long)] = (0 until 25).flatMap { i =>
      Seq((i.toLong, base(i), -1L), (i + 1000L, base(i), -2L),
        (i + 2000L, base(i), decoy(i)), (i + 3000L, base(i), -1L))
    }
    val withBytes = rows.toDF("media_id", "seed", "decoy")
      .as[(Long, Long, Long)]
      .map { case (id, seed, dec) =>
        val bytes = dec match {
          case -1L => Multimodal.synthAvi(seed, nFrames) // full clip
          case -2L => Multimodal.synthAviTrimmed(seed, nFrames - 2, 2) // intro cut
          case d => // shifted splice: source frame 3 of the clip at position 0
            Multimodal.synthAviComposed(
              (seed, 3) +: (1 until nFrames).map(p => (d, p)))
        }
        (id, bytes)
      }
      .toDF("media_id", "content")
    val sigs = Multimodal.videoSequenceDHashes(withBytes, "media_id", "content",
      stride = 1)
    Dedup.shiftedSequenceVoteNearDupPairs(sigs, "media_id", "frame_idx", "vhash",
        maxHamming = 3, numBands = 4, minVoteFrac = 0.7, maxShift = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q127 — SHIFT-TOLERANT segment-wise AUDIO dedup: the q126 construction
    * over real RIFF/WAV PCM instead of AVI frames, reusing
    * Dedup.shiftedSequenceVoteNearDupPairs verbatim (it is
    * signature-agnostic — R135 applies to any (id, index, 64-bit-hash)
    * sequence). 25 eight-segment clips (800 samples/segment, mixed-gain AM
    * formula — synthWavAm's linear gain walk measured 5/4000 diverse at
    * segment grain, so q127 has its own generator, the R133 lesson), each
    * staged four ways: full, intro-trimmed-by-2-segments (byte-identical
    * tail — absolute-index formula), shifted splice (source segment 3 at
    * position 0 + decoy tail), identical restage. Same greedy diversity
    * screen as q126 (within-clip pairwise > 3 bits; ≤ 2 cross-seed
    * collisions per content-offset — spurious pairs cap at 4 matches < 5
    * required), so the exact 75-row best-offset result is fixed by
    * construction and the oracle needs no audio decoding.
    */
  def q127AudioShiftedDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nSeg = 8
    val segSamples = 800
    val (base, decoy) = shiftDiverseAudioSeeds
    val rows: Seq[(Long, Long, Long)] = (0 until 25).flatMap { i =>
      Seq((i.toLong, base(i), -1L), (i + 1000L, base(i), -2L),
        (i + 2000L, base(i), decoy(i)), (i + 3000L, base(i), -1L))
    }
    val withBytes = rows.toDF("media_id", "seed", "decoy")
      .as[(Long, Long, Long)]
      .map { case (id, seed, dec) =>
        val bytes = dec match {
          case -1L => Multimodal.synthWavAmMixed(seed, nSeg * segSamples)
          case -2L => Multimodal.synthWavAmMixedTrimmed(seed, nSeg - 2, 2, segSamples)
          case d => Multimodal.synthWavAmMixedComposed(
            (seed, 3) +: (1 until nSeg).map(p => (d, p)), segSamples)
        }
        (id, bytes)
      }
      .toDF("media_id", "content")
    val sigs = Multimodal.audioSequenceEnvelopeHashes(withBytes, "media_id",
      "content", segSamples)
    Dedup.shiftedSequenceVoteNearDupPairs(sigs, "media_id", "seg_idx", "ahash",
        maxHamming = 3, numBands = 4, minVoteFrac = 0.7, maxShift = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q128 — INCREMENTAL sequence dedup against a persisted signature store
    * (Dedup.incrementalSequenceNearDups): the continuous-ingest shape. The
    * q126 video construction split into TWO batches against a fresh store:
    * batch 1 ingests the 25 originals (no pairs — seeds are diverse; their
    * signatures fold into the store); batch 2 ingests a trimmed dup, an
    * identical restage and a shifted splice of each original — every
    * trim/restage pair surfaces AGAINST HISTORY (the originals' media
    * bytes are never re-read; only their stored 64-bit signatures) plus
    * the batch-internal trim-vs-restage pair, and every splice drops. The
    * store is a fresh unique temp dir per invocation, so the result is
    * run-independent and fixed by construction: the same 75 rows as q126
    * with the restage family at +2000.
    */
  def q128IncrementalSequenceDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nFrames = 8
    val (base, decoy) = shiftDiverseVideoSeeds
    def clips(rows: Seq[(Long, Long, Long)]): org.apache.spark.sql.DataFrame =
      rows.toDF("media_id", "seed", "decoy")
        .as[(Long, Long, Long)]
        .map { case (id, seed, dec) =>
          val bytes = dec match {
            case -1L => Multimodal.synthAvi(seed, nFrames)
            case -2L => Multimodal.synthAviTrimmed(seed, nFrames - 2, 2)
            case d => Multimodal.synthAviComposed(
              (seed, 3) +: (1 until nFrames).map(p => (d, p)))
          }
          (id, bytes)
        }
        .toDF("media_id", "content")
    def sigs(rows: Seq[(Long, Long, Long)]): org.apache.spark.sql.DataFrame =
      Multimodal.videoSequenceDHashes(clips(rows), "media_id", "content", stride = 1)
    val store = scratchDir("q128store", dir).toString
    val batch1 = (0 until 25).map(i => (i.toLong, base(i), -1L))
    val batch2 = (0 until 25).flatMap { i =>
      Seq((i + 1000L, base(i), -2L), (i + 2000L, base(i), -1L),
        (i + 3000L, base(i), decoy(i)))
    }
    val first = Dedup.incrementalSequenceNearDups(sigs(batch1), "media_id",
      "frame_idx", "vhash", store, maxHamming = 3, numBands = 4,
      minVoteFrac = 0.7, maxShift = 3)
    require(first.isEmpty, "batch 1 originals must not pair with each other")
    Dedup.incrementalSequenceNearDups(sigs(batch2), "media_id",
        "frame_idx", "vhash", store, maxHamming = 3, numBands = 4,
        minVoteFrac = 0.7, maxShift = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q129 — perceptual CONTAMINATION check
    * (Dedup.hammingContaminationPairs): the q71 text-decontamination
    * hygiene twin for images. 50 dHash-diverse corpus PNGs (q122's greedy
    * selection extended to 55 seeds); the eval set stages 10 EXACT
    * re-encodes of corpus images 0..9 (ids 9000..9009) and 5 clean images
    * from the remaining diverse seeds (ids 9010..9014). The construction
    * fixes the exact result to the 10 planted (i, 9000+i, 0) rows — every
    * clean eval image is > 3 bits from every corpus image by selection,
    * so the oracle needs no image decoding.
    */
  def q129PerceptualContamination(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 55 && cand < 600) {
      val h = Multimodal.dHash64(Multimodal.synthPng(cand))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 55, s"only ${seeds.size} diverse seeds in 0..599")
    val sel = seeds.map(_._1).toIndexedSeq
    def pngs(rows: Seq[(Long, Long)]): org.apache.spark.sql.DataFrame =
      rows.toDF("media_id", "seed").as[(Long, Long)]
        .map { case (id, seed) => (id, Multimodal.synthPng(seed)) }
        .toDF("media_id", "content")
    val corpus = Multimodal.imageDHashes(
      pngs((0 until 50).map(i => (i.toLong, sel(i)))), "media_id", "content")
    val eval = Multimodal.imageDHashes(
      pngs((0 until 10).map(i => (i + 9000L, sel(i))) ++
        (0 until 5).map(i => (i + 9010L, sel(50 + i))))
        .withColumnRenamed("media_id", "eval_id"),
      "eval_id", "content")
    Dedup.hammingContaminationPairs(corpus, "media_id", "dhash",
        eval, "eval_id", "dhash", maxHamming = 3)
      .orderBy(col("media_id"), col("eval_id"))
  }

  /** Q130 — product-quantization ANN with asymmetric distance computation
    * (PQ/ADC, the 100 TB serving tier between int8 q75 and 1-bit q92):
    * md5-SAMPLED deterministic codebooks (m=8 subspaces × ksub=16 centers
    * over the 64-dim embeddings — the q112 discipline, every step
    * integer-exact and DuckDB-replayable), encode the corpus to 8 codes
    * per vector, ADC-rank against vec_id 0's query tables, exact-cosine
    * rescore of the top 50, return the true top-10. The one-row query
    * collect and the m×ksub codebook collect are bounded driver reads
    * (the readIvfCentroids pattern). The TRAINED-codebook twin
    * (Search.pqTrainCodebooks, seeded kmeans) is recall-gated in
    * RecallBench/SearchSpec instead — Lloyd means are not SQL-replayable.
    */
  def q130PqAdc(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val cb = Search.pqSampledCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    val corpus = emb.where(col("vec_id") =!= 0)
    val enc = Search.pqEncode(corpus, "vec_id", "embedding", cb)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.pqTopK(enc, corpus, "vec_id", "embedding", cb, query,
        k = 10, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** 2-D grid-diverse greedy seed screen for q131 (the selectShiftDiverse
    * discipline in two dimensions, over the splitmix-mixed pixel formula):
    * a candidate seed's 4×3 tile-hash grid is accepted when (a) its
    * distinct tiles differ > 3 bits pairwise and (b) vs every ACCEPTED
    * seed it has ≤ 2 collisions (≤ 3 bits) at any 2-D offset in [-3,3]².
    * Exactness margin (documented at q131): a spurious pair needs ≥ 6
    * matching tiles at ONE offset; the worst composite — splice vs
    * splice — is capped at 1+1+1+2 = 5. Computed once per JVM.
    */
  private lazy val gridDiverseImageSeeds: (IndexedSeq[Long], IndexedSeq[Long]) = {
    def tilesOf(cand: Long): Map[(Int, Int), Long] =
      graft.sources.Multimodal
        .imageTileDHashesOf(graft.sources.Multimodal.synthPngMixed(cand), 16)
        .map { case (tx, ty, h) => ((tx, ty), h) }.toMap
    val seeds = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Map[(Int, Int), Long])]
    var cand = 0L
    while (seeds.size < 50 && cand < 2000) {
      val hs = tilesOf(cand)
      val ks = hs.keys.toIndexedSeq
      val selfDiverse = ks.indices.forall(a => (a + 1 until ks.size).forall(b =>
        java.lang.Long.bitCount(hs(ks(a)) ^ hs(ks(b))) > 3))
      val crossOk = seeds.forall { case (_, ph) =>
        (-3 to 3).forall { dx =>
          (-3 to 3).forall { dy =>
            ph.count { case ((tx, ty), h) =>
              hs.get((tx + dx, ty + dy))
                .exists(g => java.lang.Long.bitCount(h ^ g) <= 3)
            } <= 2
          }
        }
      }
      if (selfDiverse && crossOk) seeds += ((cand, hs))
      cand += 1
    }
    require(seeds.size == 50, s"only ${seeds.size} grid-diverse seeds in 0..1999")
    (seeds.take(25).map(_._1).toIndexedSeq, seeds.drop(25).map(_._1).toIndexedSeq)
  }

  /** Q131 — CROP/PAD-TOLERANT image dedup (Multimodal.imageTileDHashes +
    * Dedup.croppedGridVoteNearDupPairs), the case q122's whole-image dHash
    * misses: a duplicate cropped by whole tiles (cropping shifts every
    * global pooling cell, moving ~half the 64 bits). 25 64×48 PNGs on a
    * 16-px pitch (4×3 = 12 tiles), each staged four ways — id i (the
    * image), id i+1000 (cropped by one tile column AND one tile row:
    * 48×32 via Multimodal.cropPng, content = source tiles (1..3)×(1..2)),
    * id i+2000 (a 2-D splice: source tile (2,1) at dest (0,0), decoy
    * tiles elsewhere, via Multimodal.composePngTiles) and id i+3000
    * (identical restage). Best-offset voting at minVoteFrac 0.5 accepts
    * (i, i+1000) at offset (−1,−1) with 6/12 tiles, (i, i+3000) at (0,0)
    * with 12/12, (i+1000, i+3000) at (+1,+1) with 6/12 — and rejects
    * every splice (≤ 3/12 by the greedy screen's collision cap; the
    * planted splice tile sits at in-window offset (−2,−1), so it is
    * VOTED down, not merely outside the window). Seeds use the
    * splitmix-mixed pixel formula — the linear synthPixel walk is
    * translation-structured and tile-degenerate (the q123/q127 diversity
    * lesson) — screened by [[gridDiverseImageSeeds]]. The exact result is
    * fixed by construction; the oracle needs no image decoding.
    */
  def q131CroppedImageDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val tile = 16
    val (base, decoy) = gridDiverseImageSeeds
    val rows: Seq[(Long, Long, Long)] = (0 until 25).flatMap { i =>
      Seq((i.toLong, base(i), -1L), (i + 1000L, base(i), -2L),
        (i + 2000L, base(i), decoy(i)), (i + 3000L, base(i), -1L))
    }
    val withBytes = rows.toDF("media_id", "seed", "decoy")
      .as[(Long, Long, Long)]
      .map { case (id, seed, dec) =>
        val bytes = dec match {
          case -1L => Multimodal.synthPngMixed(seed) // full image / restage
          case -2L => // crop: drop the first tile column and first tile row
            Multimodal.cropPng(Multimodal.synthPngMixed(seed),
              tile, tile, 3 * tile, 2 * tile)
          case d => // 2-D splice: one source tile at (0,0), decoy elsewhere
            Multimodal.composePngTiles(tile, 4, 3, (tx, ty) =>
              if (tx == 0 && ty == 0) (Multimodal.synthPngMixed(seed), 2, 1)
              else (Multimodal.synthPngMixed(d), tx, ty))
        }
        (id, bytes)
      }
      .toDF("media_id", "content")
    val tiles = Multimodal.imageTileDHashes(withBytes, "media_id", "content", tile)
    Dedup.croppedGridVoteNearDupPairs(tiles, "media_id", "tile_x", "tile_y",
        "thash", maxHamming = 3, numBands = 4, minVoteFrac = 0.5,
        maxShiftX = 2, maxShiftY = 2)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q132 — FLIP/ROTATION-TOLERANT image dedup
    * (Multimodal.imageCanonicalDHashes + Dedup.hammingNearDupPairs), the
    * case q122's plain dHash misses entirely: a mirrored or rotated
    * re-upload moves ~half the 64 gradient bits, but the
    * orientation-CANONICAL hash (min dHash over the 8 dihedral
    * transforms) is invariant under the whole D4 orbit — so staged flips
    * and rotations pair at Hamming 0 EXACTLY, and the oracle stays
    * construction-derived. 25 mixed-formula PNGs greedily screened to
    * pairwise > 3 canonical-hash bits, each staged three ways: id i (the
    * image), id i+1000 (mirror-x via Multimodal.transformPng(4)), id
    * i+2000 (rot90 via transformPng(1)) — exactly the 75 within-orbit
    * pairs, nothing across seeds. No image decoding in the oracle.
    */
  def q132FlippedImageDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 25 && cand < 500) {
      val h = Multimodal.dHashCanonical64(Multimodal.synthPngMixed(cand))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 25, s"only ${seeds.size} canonical-diverse seeds in 0..499")
    val rows: Seq[(Long, Long, Int)] = seeds.map(_._1).zipWithIndex.flatMap {
      case (seed, i) =>
        Seq((i.toLong, seed, 0), (i + 1000L, seed, 4), (i + 2000L, seed, 1))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed", "k")
      .as[(Long, Long, Int)]
      .map { case (id, seed, k) =>
        val full = Multimodal.synthPngMixed(seed)
        (id, if (k == 0) full else Multimodal.transformPng(full, k))
      }
      .toDF("media_id", "content")
    val hashes = Multimodal.imageCanonicalDHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "chash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Speed-diverse greedy seed screen for q133 (selectShiftDiverse with the
    * margins the STRIDE hypothesis space needs): clips are 12 frames, and
    * cross-seed collisions (≤ 3 bits) are bounded per content-offset over
    * [-8, 8] — under any (stride ≤ 2, |d| ≤ 3, phase) hypothesis between
    * same-slope stagings the compared content indexes differ by the
    * CONSTANT s·d + r ∈ [-7, 7] (so ≤ 4 collisions cap a spurious vote at
    * 4 < the 5 the 0.7 threshold needs at denominator 6 — the stricter
    * ≤ 2 margin of the q126 screen starves the seed supply at this clip
    * length, hence the widened cap, which the denominator math still
    * absorbs; the planted splice frame
    * adds its vote only on denominator-12 hypotheses needing ≥ 9, shown
    * in the operator's margin audit), while mixed-slope
    * hypotheses (a decimated 2×-dup against a full-rate clip of another
    * seed) compare ≤ 3 valid frames against denominators ≥ 6 and can
    * never qualify structurally. Within-clip pairwise diversity (> 3
    * bits across all 12 positions) makes every wrong same-seed hypothesis
    * score ≤ 1 vote (the single content-index identity solution).
    */
  private lazy val speedDiverseVideoSeeds: (IndexedSeq[Long], IndexedSeq[Long]) = {
    val nFrames = 12
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    var cand = 0L
    // 48 = 24 clips + 24 decoys: the ≤ 4-collision screen saturates at 48
    // accepted seeds (measured: 48 at BOTH 20k and 60k candidates — the
    // synth formula's variety ceiling at this clip length)
    while (seeds.size < 48 && cand < 60000) {
      val hs = graft.sources.Multimodal
        .videoFrameDHashes(graft.sources.Multimodal.synthAvi(cand, nFrames), 1)
        .map(_._2)
      val selfDiverse = hs.indices.forall(a => (a + 1 until hs.size).forall(b =>
        java.lang.Long.bitCount(hs(a) ^ hs(b)) > 3))
      val crossOk = seeds.forall { case (_, ph) =>
        (-8 to 8).forall { c =>
          ph.indices.count { f =>
            val g = f + c
            g >= 0 && g < hs.size &&
              java.lang.Long.bitCount(ph(f) ^ hs(g)) <= 3
          } <= 4
        }
      }
      if (selfDiverse && crossOk) seeds += ((cand, hs))
      cand += 1
    }
    require(seeds.size == 48, s"only ${seeds.size} speed-diverse seeds in 0..59999")
    (seeds.take(24).map(_._1).toIndexedSeq, seeds.drop(24).map(_._1).toIndexedSeq)
  }

  /** Q133 — SPEED/FPS-CHANGE-TOLERANT video dedup
    * (Dedup.speedSequenceVoteNearDupPairs): 24 speed-diverse 12-frame clips
    * each staged four ways — full, a HALF-RATE duplicate (every 2nd frame,
    * bit-identical surviving frames at half the index — the rate-changed
    * re-encode no constant offset aligns, synthAviComposed over content
    * frames 0,2,…,10), a decoy splice (one real frame + a decoy tail), and
    * an identical restage. The construction fixes the exact result: the
    * half-rate dup matches its original 6/6 under the (stride 2, phase 0,
    * offset 0) hypothesis with the ORIGINAL as the decimated side, the
    * restage matches 12/12 at stride 1, the dup-vs-restage pair mirrors the
    * first family, and every splice and every wrong hypothesis drops (see
    * [[speedDiverseVideoSeeds]] for the margins) — so the DuckDB oracle
    * needs no video decoding.
    */
  def q133VideoSpeedDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nFrames = 12
    val (base, decoy) = speedDiverseVideoSeeds
    val rows: Seq[(Long, Long, Long)] = (0 until 24).flatMap { i =>
      Seq((i.toLong, base(i), -1L), (i + 1000L, base(i), -2L),
        (i + 2000L, base(i), decoy(i)), (i + 3000L, base(i), -1L))
    }
    val withBytes = rows.toDF("media_id", "seed", "decoy")
      .as[(Long, Long, Long)]
      .map { case (id, seed, dec) =>
        val bytes = dec match {
          case -1L => Multimodal.synthAvi(seed, nFrames) // full clip
          case -2L => // half-rate duplicate: content frames 0,2,…,10
            Multimodal.synthAviComposed(
              (0 until nFrames / 2).map(f => (seed, 2 * f)))
          case d => // splice: source frame 3 of the clip + a decoy tail
            Multimodal.synthAviComposed(
              (seed, 3) +: (1 until nFrames).map(p => (d, p)))
        }
        (id, bytes)
      }
      .toDF("media_id", "content")
    val sigs = Multimodal.videoSequenceDHashes(withBytes, "media_id", "content",
      stride = 1)
    Dedup.speedSequenceVoteNearDupPairs(sigs, "media_id", "frame_idx", "vhash",
        maxHamming = 3, numBands = 4, minVoteFrac = 0.7, maxShift = 3,
        maxStride = 2)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q134 — per-column dataset quality card (Profile.profileColumns): the
    * observability pass over `documents` — exact row/null/distinct counts
    * and typed min/max per profiled column, every metric replayable in SQL
    * (the probe restricts to types whose string rendering is
    * engine-portable: BIGINT and VARCHAR).
    */
  def q134ProfileColumns(s: SparkSession, dir: String): DataFrame =
    Profile.profileColumns(Tables.documents(s, dir),
      Seq("doc_id", "lang", "source", "n_chars"))

  /** Q135 — exact top-k frequent values per column
    * (Profile.frequentValues): the categorical-drift detector over
    * `documents.lang` / `documents.source`, deterministic ties (count
    * desc, value asc).
    */
  def q135FrequentValues(s: SparkSession, dir: String): DataFrame =
    Profile.frequentValues(Tables.documents(s, dir),
      Seq("lang", "source"), k = 5)

  /** Q136 — SCALE/THUMBNAIL-TOLERANT image dedup: dHash's proportional
    * pooling makes the hash an arithmetic invariant of an exact box
    * downscale (Multimodal.synthPngBlocked documents the cell-alignment
    * proof), so a 2×-downscaled re-upload pairs at Hamming 0 with its
    * original through the UNCHANGED exact banded join — no new pairing
    * operator, a proven invariance of the existing one (the scale member
    * of the invariance family: translation q131, orientation q132,
    * time-shift q126, rate q133). 25 dHash-diverse blocked PNGs staged as
    * (full, 2×-downscale, identical restage) — exactly the 75
    * within-group pairs.
    */
  def q136ThumbnailImageDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 25 && cand < 500) {
      val h = Multimodal.dHash64(Multimodal.synthPngBlocked(cand))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 25, s"only ${seeds.size} dHash-diverse blocked seeds in 0..499")
    val rows: Seq[(Long, Long, Int)] = seeds.map(_._1).zipWithIndex.flatMap {
      case (seed, i) =>
        Seq((i.toLong, seed, 0), (i + 1000L, seed, 1), (i + 2000L, seed, 0))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed", "scaled")
      .as[(Long, Long, Int)]
      .map { case (id, seed, scaled) =>
        val full = Multimodal.synthPngBlocked(seed)
        (id, if (scaled == 1) Multimodal.downscalePng(full, 2) else full)
      }
      .toDF("media_id", "content")
    val hashes = Multimodal.imageDHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "dhash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q137 — RESAMPLE-TOLERANT audio dedup: the 65-window envelope hash is
    * duration-normalized, so a downsampled re-encode (half the rate, same
    * content) hashes bit-identically when windows align
    * (Multimodal.synthWavPaired documents the proof) — the audio twin of
    * q136, again through the unchanged exact banded join. 25
    * envelope-diverse paired-sample WAVs staged as (full, 2×-decimated
    * re-encode, identical restage) — exactly the 75 within-group pairs.
    */
  def q137AudioResampleDedup(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.Multimodal
    val nSamples = 5200 // 40 windows × 130
    val seeds = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var cand = 0L
    while (seeds.size < 25 && cand < 500) {
      val h = Multimodal.envelopeHash64(Multimodal.synthWavPaired(cand, nSamples))
      if (seeds.forall(p => java.lang.Long.bitCount(p._2 ^ h) > 3))
        seeds += ((cand, h))
      cand += 1
    }
    require(seeds.size == 25, s"only ${seeds.size} envelope-diverse paired seeds in 0..499")
    val rows: Seq[(Long, Long, Int)] = seeds.map(_._1).zipWithIndex.flatMap {
      case (seed, i) =>
        Seq((i.toLong, seed, 0), (i + 1000L, seed, 1), (i + 2000L, seed, 0))
    }.toSeq
    val withBytes = rows.toDF("media_id", "seed", "resampled")
      .as[(Long, Long, Int)]
      .map { case (id, seed, resampled) =>
        val full = Multimodal.synthWavPaired(seed, nSamples)
        (id, if (resampled == 1) Multimodal.decimateWav(full, 2) else full)
      }
      .toDF("media_id", "content")
    val hashes = Multimodal.audioEnvelopeHashes(withBytes, "media_id", "content")
    Dedup.hammingNearDupPairs(hashes, "media_id", "ahash", maxHamming = 3)
      .orderBy(col("id1"), col("id2"))
  }

  /** Q138 — per-group quality cards (Profile.profileByGroup): the
    * per-language monitoring cut over `documents` — exact per-(lang,
    * column) row/null/distinct counts and min/max, one grouped aggregate
    * pass, every metric replayable in SQL.
    */
  def q138ProfileByGroup(s: SparkSession, dir: String): DataFrame =
    Profile.profileByGroup(Tables.documents(s, dir), "lang",
      Seq("source", "n_chars"))

  /** Q139 — profile diff (Profile.diffProfiles): the rebuild gate. The
    * "after" card profiles the doc_id < 100 subset, so every changed
    * (column, metric) pair surfaces with both canonical values — the
    * diff is computed, not hardcoded, and DuckDB replays both cards and
    * the full-outer comparison.
    */
  def q139ProfileDiff(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    val cols = Seq("doc_id", "lang", "source", "n_chars")
    Profile.diffProfiles(
      Profile.profileColumns(docs, cols),
      Profile.profileColumns(docs.where(col("doc_id") < 100), cols))
  }

  /** Q140 — bloom-pruned selective join (Joins.bloomPrunedJoin): events
    * joined to ONE nation's customers — the shape where most of the big
    * side never matches and semi-join reduction pays. The bloom is
    * execution-only (false positives ride through to the exact join), so
    * the oracle is the PLAIN join — the q46 salted-join discipline.
    */
  def q140BloomPrunedJoin(s: SparkSession, dir: String): DataFrame =
    operators.Joins.bloomPrunedJoin(
        events(s, dir),
        customer(s, dir).where(col("c_nationkey") === 7)
          .select(col("c_custkey"), col("c_mktsegment")),
        "user_id", "c_custkey", expectedItems = 100000L, numBits = 1L << 20)
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_events"),
        round(dsum2(col("value")), 2).as("sum_value"))
      .orderBy(col("c_mktsegment"))

  /** Q141 — incremental quality-card maintenance (Profile.appendProfile /
    * mergedProfile): documents split into two batches fold into a fresh
    * store, and the merged card over tiny per-batch rows equals the
    * whole-table card's mergeable metrics — so the oracle is the direct
    * SQL card minus n_distinct (deliberately absent: not mergeable from
    * exact per-batch cards; the HLL sketch store covers that trend). A
    * replay of batch 2 before the merge pins the no-op contract in the
    * probe path itself. The derived `score` DOUBLE column exercises the
    * fractional merge tier (r11): per-batch min/max render via the
    * shortest-round-trip cast and re-merge on the parsed double — values
    * here are k/100 doubles, which render identically in Spark and
    * DuckDB, so the card stays hash-comparable.
    */
  def q141IncrementalProfile(s: SparkSession, dir: String): DataFrame = {
    val store = scratchDir("q141store", dir).toString
    val docs = Tables.documents(s, dir)
      .withColumn("score", col("n_chars") / lit(100.0))
    val cols = Seq("doc_id", "lang", "source", "n_chars", "score")
    Profile.appendProfile(docs.where(col("doc_id") < 250), cols, "b1", store)
    Profile.appendProfile(docs.where(col("doc_id") >= 250), cols, "b2", store)
    // replay: must be a no-op or the merged counts double
    Profile.appendProfile(docs.where(col("doc_id") >= 250), cols, "b2", store)
    Profile.mergedProfile(s, store)
  }

  /** Q142 — exact order-statistic quantile card (Profile.quantileCard):
    * document-length cuts at p1/p25/p50/p75/p95/p99 with the integer-ppm
    * position rule (k = ⌈q·n/10⁶⌉), ranked by the shuffle-free global
    * rank — DuckDB replays the identical row_number join, no
    * interpolation, no float index.
    */
  def q142QuantileCard(s: SparkSession, dir: String): DataFrame =
    Profile.quantileCard(Tables.documents(s, dir), "n_chars", "doc_id",
      Seq(10000L, 250000L, 500000L, 750000L, 950000L, 990000L))

  /** Q143 — composite-key integrity check (Profile.duplicateKeys): which
    * (lang, source) combinations hold more than one document, with
    * multiplicities — an empty result would certify the pair as a key.
    */
  def q143DuplicateKeys(s: SparkSession, dir: String): DataFrame =
    Profile.duplicateKeys(Tables.documents(s, dir), Seq("lang", "source"))

  /** Q144 — per-group quantile card (Profile.quantileCardByGroup): p50/p95
    * document length per language, same integer-ppm position rule as q142
    * with the rank window partitioned on the group.
    */
  def q144GroupQuantiles(s: SparkSession, dir: String): DataFrame =
    Profile.quantileCardByGroup(Tables.documents(s, dir), "lang", "n_chars",
      "doc_id", Seq(500000L, 950000L))

  /** Q145 — referential-integrity check (Profile.danglingKeys): event
    * user_ids with no row in a TRUNCATED customer table (c_custkey < 100
    * — the full reference is clean at every SF, which would make the
    * probe an always-empty tautology) — the rows an inner join would
    * silently drop, with multiplicities.
    */
  def q145DanglingKeys(s: SparkSession, dir: String): DataFrame =
    Profile.danglingKeys(events(s, dir), "user_id",
      Tables.customer(s, dir).where(col("c_custkey") < 100), "c_custkey")

  /** Q146 — topic-balanced sampling (Sampling.clusterBalancedSample): 5
    * content-addressed rows from each of 8 deterministic semantic
    * clusters over the embeddings table — nearest-centroid assignment by
    * the codegen'd cosine (the q87 argmax-replay discipline) followed by
    * the q106 exact-k cut, all engine-replayable.
    */
  def q146ClusterBalancedSample(s: SparkSession, dir: String): DataFrame =
    Sampling.clusterBalancedSample(Tables.embeddings(s, dir), "vec_id",
        "embedding", numClusters = 8, perCluster = 5, salt = "cb1")
      .select(col("vec_id"), col("cluster_id"), col("sample_rank"))
      .orderBy(col("cluster_id"), col("sample_rank"))

  /** Q147 — WATERMARK-DROP semantics under append mode (ST1's other half;
    * q50 hash-checks the complete-mode drain, this probe hash-checks the
    * two effects complete mode hides): the even-event_id half of the
    * events fixture streams as micro-batch 1, the odd half arrives as
    * micro-batch 2 — mostly LATE relative to the batch-1 watermark
    * (max(even ts) − 30 min), so the watermark DROPS every odd row whose
    * hour window it already closed — and the drained append-mode sink
    * holds exactly the windows whose end the FINAL watermark passed.
    * Lateness is window-end-based (StreamsSpec pins it) and the oracle
    * replays both cuts in SQL over the same even/odd split; the fixture's
    * sub-hour max-ts offsets keep every comparison away from boundary
    * equality, and the one basis-ambiguous window (the one containing the
    * batch-1 watermark) is withheld by the emission cut at both scales,
    * so the oracle is exact. The even/odd parquet slices stage ONCE per
    * sfDir ([[stagedRoot]] — per-rep Spark writes dominated the probe,
    * 5.2 s median before the fold); each RUN only copies the two small
    * files into a fresh stream directory, because micro-batch composition
    * (file 2 must appear after batch 1 drains) needs a dir the stream
    * owns.
    */
  def q147WatermarkDrops(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (staged, fresh, commitStaged) = stagedRoot("q147ev", dir, src)
    // The staged slices are single FILES landed via unique temp name +
    // ATOMIC_MOVE (the q50 discipline): concurrent JVMs can't corrupt
    // each other's staging, and readers never see a half-copied file.
    def stageSlice(name: String, parity: Int): Unit = {
      val job = Files.createTempDirectory(s"q147slice_$name")
      Tables.events(s, dir).where(col("event_id") % 2 === parity)
        .coalesce(1).write.mode("overwrite").parquet(job.toString)
      val part = {
        val l = Files.list(job)
        try l.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally l.close()
      }
      val tmp = staged.resolve(s".$name.${java.util.UUID.randomUUID()}.tmp")
      Files.copy(part, tmp)
      Files.move(tmp, staged.resolve(name),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      Files.walk(job).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
    if (!fresh || !Files.exists(staged.resolve("even.parquet")) ||
        !Files.exists(staged.resolve("odd.parquet"))) {
      Files.createDirectories(staged)
      stageSlice("even.parquet", 0)
      stageSlice("odd.parquet", 1)
      commitStaged()
    }
    // Per-run stream dir (micro-batch composition needs a dir the stream
    // owns); mid-stream delivery of batch 2 also goes dot-temp +
    // ATOMIC_MOVE — the live file source polls continuously and must
    // never list a half-copied parquet.
    def deliver(streamDir: java.nio.file.Path, slice: String, as: String): Unit = {
      val tmp = streamDir.resolve(s".$as.${java.util.UUID.randomUUID()}.tmp")
      Files.copy(staged.resolve(slice), tmp)
      Files.move(tmp, streamDir.resolve(as), StandardCopyOption.ATOMIC_MOVE)
    }
    val streamDir = scratchDir("q147run", dir)
    deliver(streamDir, "even.parquet", "batch1.parquet")
    val name = "q147_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Streams.streamTumblingToMemoryAppend(
      s, streamDir.toString, name, "30 minutes")
    try {
      q.processAllAvailable() // batch 1: evens; watermark → max(even ts) − 30 min
      deliver(streamDir, "odd.parquet", "batch2.parquet")
      q.processAllAvailable() // batch 2: odds (late ones dropped) + final flush
    } finally q.stop()
    s.table(name)
      .select(unix_millis(col("window_start")).as("hour_ms"), col("event_type"),
        col("n"), col("sum_value"))
      .orderBy(col("hour_ms"), col("event_type"))
  }

  /** Q148 — COMPOSED IVF-PQ ANN through the PERSISTED index
    * (Search.writeIvfPqIndex / ivfPqTopKFromIndex — IVFADC, Jégou et al.
    * 2011): the q30 coarse tier and the q130 PQ tier fused into the
    * standard 100 TB serving architecture. Deterministic end to end: the
    * 8 coarse centroids are the vec_id<8 seed rows (the q30 discipline),
    * the codebooks are the md5-SAMPLED m=8×ksub=16 set (the q130
    * discipline), so every stage — assignment (ties → lowest cid), probe
    * selection (nProbe=4 nearest centroids to vec_id 0's query, ties →
    * lowest cid), ADC ranking within the probed clusters (ties → lowest
    * vec_id), top-50 candidates, exact-cosine rescore top-10 — is
    * DuckDB-replayable. The index stages once per sfDir (idempotent,
    * [[stagedRoot]]) so bench reps time the READ path: a
    * partition-pruned scan of the probed clusters' m-byte codes
    * (PartitionFilters asserted in SearchSpec), never the whole corpus.
    */
  def q148IvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val (idxDir, fresh, commitStaged) = stagedRoot("q148ivfpq", dir, src)
    if (!fresh) {
      val cb = Search.pqSampledCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
      Search.writeIvfPqIndex(emb.where(col("vec_id") =!= 0), "vec_id",
        "embedding", cents, cb, idxDir.toString)
      commitStaged()
    }
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.ivfPqTopKFromIndex(s, idxDir.toString,
        emb.where(col("vec_id") =!= 0), "vec_id", "embedding", query,
        k = 10, nProbe = 4, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** Q149 — the END-TO-END INCREMENTAL-UPDATE composition, oracle-checked
    * (VERDICT r11 item 4): the 100 TB steady-state CRUD story —
    * Snapshots.snapshotDelta detects what a new crawl changed, the FUSED
    * updateTextIndex/updateIvfIndex rewrite each store once (survivors +
    * the refresh batch under the frozen models; spec-proven ≡ the
    * remove-then-append two-step, ~25% faster here — BASELINE r12
    * addendum) — and the updated indexes must answer EXACTLY like a fresh
    * build of the new corpus, which is what DuckDB replays (it never sees
    * the incremental path at all: the oracle recomputes BM25 and the IVF
    * probe from the v2 corpus defined relationally).
    *
    * v2 is derived from the fixtures deterministically: documents drop
    * doc_id%10==3, rewrite doc_id%10==4 (text + a marker suffix), add
    * doc_id%10==7 twins under doc_id+1e6 with synthetic text; embeddings
    * (corpus = vec_id≠0) drop vec_id%10==3, change vec_id%10==4 to the
    * REVERSED vector, add negated twins of vec_id%10==7 under vec_id+1e6.
    * Coarse centroids stay the FROZEN vec_id<8 seed set (the maintenance
    * contract: deletion/append never move the quantizer). The v1 index
    * builds stage once per sfDir ([[stagedRoot]]); every run pays the
    * UPDATE path — delta join, survivor rewrite, frozen-model append,
    * then one pruned query per index.
    */
  def q149IncrementalUpdate(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Snapshots
    val docs = documents(s, dir).select(col("doc_id"), col("text"))
    val marker = lit(" refreshed section about vector search ranking")
    val v2docs = docs.where(col("doc_id") % 10 =!= 3)
      .select(col("doc_id"),
        when(col("doc_id") % 10 === 4, concat(col("text"), marker))
          .otherwise(col("text")).as("text"))
      .unionByName(docs.where(col("doc_id") % 10 === 7)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          concat(lit("added document about bm25 ranking and ivf retrieval number "),
            col("doc_id").cast("string")).as("text")))
    def toks(df: DataFrame) = df.select(col("doc_id"),
      graft.functions.TextFunctions.wordTokens(col("text")).as("toks"))
    val embAll = embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val v1e = embAll.where(col("vec_id") =!= 0)
    val changedE = v1e.where(col("vec_id") % 10 === 4)
      .select(col("vec_id"), reverse(col("embedding")).as("embedding"))
    val addedE = v1e.where(col("vec_id") % 10 === 7)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(col("embedding"), x => -x).as("embedding"))
    val v2e = v1e.where(col("vec_id") % 10 =!= 3 && col("vec_id") % 10 =!= 4)
      .unionByName(changedE).unionByName(addedE)
    val cents = embAll.where(col("vec_id") < 8)
      .collect().map(r => (r.getLong(0).toInt, r.getSeq[Float](1).toArray))
      .sortBy(_._1).toSeq
    // v1 indexes stage once per sfDir; the update path runs per rep
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val (base, fresh, commitStaged) = stagedRoot("q149base", dir, src)
    if (!fresh) {
      Search.writeTextIndex(toks(docs), "doc_id", "toks", s"$base/text")
      Search.writeIvfIndex(v1e, "embedding", cents, s"$base/ivf")
      commitStaged()
    }
    // each side's delta computes ONCE (persisted — it is tiny: id +
    // status + two fingerprints) and feeds BOTH the retire and refresh
    // sets; calling the changedRows convenience alongside snapshotDelta
    // would run the full-outer fingerprint join twice per side — a
    // modest ~6% on this probe's min at sf0.1 (the fingerprint frames
    // are narrow), but at 100 TB the delta join reads the corpus and
    // computing it once is the steady-state pattern callers should copy
    def sets(old: DataFrame, cur: DataFrame, idCol: String,
        fpCol: org.apache.spark.sql.Column): (DataFrame, DataFrame, DataFrame) = {
      val delta = Snapshots.snapshotDelta(old, cur, idCol, fpCol)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val retire = delta
        .where(col("status").isin(Snapshots.Removed, Snapshots.Changed))
        .select(idCol)
      val refresh = cur.join(
        delta.where(col("status").isin(Snapshots.Added, Snapshots.Changed))
          .select(idCol), Seq(idCol), "left_semi")
      (delta, retire, refresh)
    }
    val fp = Snapshots.fingerprint(col("text"))
    val (deltaDocs, retireDocs, refreshDocs) = sets(docs, v2docs, "doc_id", fp)
    val fpe = Snapshots.fingerprint(col("embedding"))
    val (deltaE, retireE, refreshE) = sets(v1e, v2e, "vec_id", fpe)
    val work = scratchDir("q149upd", dir).toString
    // FUSED update ops (spec-proven ≡ the remove-then-append two-step and
    // ≡ a fresh build): survivors and the refresh batch land in ONE
    // term-partitioned postings write / one cluster-partitioned vector
    // write instead of a survivor rewrite followed by an append — at
    // 100 TB the survivor rewrite IS the update cost, so fusing halves it
    try {
      Search.updateTextIndex(s, s"$base/text", s"$work/text",
        retireDocs, "doc_id", toks(refreshDocs), "doc_id", "toks")
      Search.updateIvfIndex(s, s"$base/ivf", s"$work/ivf",
        retireE, refreshE, "vec_id", "embedding")
    } finally { deltaDocs.unpersist(); deltaE.unpersist(); () }
    val qv = embAll.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    val bm = Search.bm25TopKFromIndex(s, s"$work/text",
        Seq("bm25", "vector", "search"), k = 10)
      .select(lit("bm25").as("src"), col("id").cast("long").as("rid"),
        fl(col("score") * 1000, 0).as("score_m"))
    val iv = Search.ivfTopKFromIndex(s, s"$work/ivf", "embedding", qv,
        k = 10, nProbe = 4)
      .select(lit("ivf").as("src"), col("vec_id").cast("long").as("rid"),
        fl(col("score") * 1000, 0).as("score_m"))
    bm.unionByName(iv).orderBy(col("src"), col("score_m").desc, col("rid"))
  }

  /** Q150 — streaming SESSION-WINDOW oracle twin (VERDICT r11 item 8, the
    * last streaming semantics without a hash check): a REAL two-micro-batch
    * drain of [[graft.streaming.Streams.closedSessions]]
    * (flatMapGroupsWithState, ST5) whose CLOSED-session output
    * hash-matches a DuckDB gaps-and-islands replay. The fixture slices by
    * TIME (first half / second half of the event range, cut staged once
    * per sfDir), which makes the incremental result provably equal the
    * one-shot sessionization: a closed batch-1 session has
    * end + gap < max(batch-1 ts) < cut ≤ every batch-2 timestamp, so no
    * later event can touch its merge envelope and the state machine can
    * never split or re-open what the batch replay would have joined.
    * All comparisons are integer milliseconds with IDENTICAL strictness
    * on both sides (merge iff delta ≤ gap, close iff end + gap < the
    * user's high water), so the hash compare cannot flap on boundaries.
    * Sessions still open at end of drain (per-user trailing tail) are
    * withheld by the state machine and excluded by the oracle's
    * high-water filter alike.
    */
  def q150SessionDrain(s: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, StandardCopyOption}
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    val (staged, fresh, commitStaged) = stagedRoot("q150ev", dir, src)
    def stageSlice(name: String, firstHalf: Boolean, cutUs: Long): Unit = {
      val job = Files.createTempDirectory(s"q150slice_$name")
      val base = Tables.events(s, dir).where(col("user_id") < 100)
      val slice = if (firstHalf) base.where(unix_micros(col("ts")) < cutUs)
                  else base.where(unix_micros(col("ts")) >= cutUs)
      slice.coalesce(1).write.mode("overwrite").parquet(job.toString)
      val part = {
        val l = Files.list(job)
        try l.filter(_.getFileName.toString.endsWith(".parquet")).findFirst().get()
        finally l.close()
      }
      val tmp = staged.resolve(s".$name.${java.util.UUID.randomUUID()}.tmp")
      Files.copy(part, tmp)
      Files.move(tmp, staged.resolve(name),
        StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
      Files.walk(job).sorted(java.util.Comparator.reverseOrder())
        .forEach(p => { Files.deleteIfExists(p); () })
    }
    if (!fresh || !Files.exists(staged.resolve("early.parquet")) ||
        !Files.exists(staged.resolve("late.parquet"))) {
      Files.createDirectories(staged)
      val b = Tables.events(s, dir).where(col("user_id") < 100)
        .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts")))).head()
      val cutUs = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
      stageSlice("early.parquet", firstHalf = true, cutUs)
      stageSlice("late.parquet", firstHalf = false, cutUs)
      commitStaged()
    }
    def deliver(streamDir: java.nio.file.Path, slice: String, as: String): Unit = {
      val tmp = streamDir.resolve(s".$as.${java.util.UUID.randomUUID()}.tmp")
      Files.copy(staged.resolve(slice), tmp)
      Files.move(tmp, streamDir.resolve(as), StandardCopyOption.ATOMIC_MOVE)
    }
    val streamDir = scratchDir("q150run", dir)
    deliver(streamDir, "early.parquet", "batch1.parquet")
    val name = "q150_stream_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = graft.streaming.Streams.streamClosedSessionsToMemory(
      s, streamDir.toString, name, gapMillis = 300000L, maxUserId = 100L)
    try {
      q.processAllAvailable() // batch 1: early half; closes its settled sessions
      deliver(streamDir, "late.parquet", "batch2.parquet")
      q.processAllAvailable() // batch 2: late half + remaining closures
    } finally q.stop()
    s.table(name)
      .orderBy(col("user_id"), col("session_start_ms"))
  }

  /** Q151 — RESIDUAL IVF-PQ ANN through the persisted index
    * (Search.writeIvfPqResidualIndex / ivfPqResidualTopKFromIndex): the
    * original IVFADC encoding (Jégou et al. 2011 §IV) where each vector
    * stores the PQ codes of its RESIDUAL against its coarse centroid, in
    * the GLOBAL fixed-point space (fpCodes — one shared ×127 scale, so
    * integer code differences ARE scaled vector differences). q148's
    * funnel with q148's determinism discipline (vec_id<8 seed centroids,
    * md5-sampled ksub=16 codebooks — here over the residual space — ties
    * to lowest cid/j/vec_id), but the ADC is the residual decomposition
    * `fp(q)·v̂ = fp(q)·fp(c) + fp(q)·r̂`: one shared table set from fp(q)
    * plus a per-cluster integer offset, integer-exact end to end and
    * therefore DuckDB-replayable. The index stages once per sfDir; reps
    * time the partition-pruned READ path like q148.
    */
  def q151IvfPqResidual(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val (idxDir, fresh, commitStaged) = stagedRoot("q151ivfpqres", dir, src)
    if (!fresh) {
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
      val cb = Search.pqResidualSampledCodebooks(emb, "vec_id", "embedding",
        cents, dim = 64, m = 8, ksub = 16)
      Search.writeIvfPqResidualIndex(emb.where(col("vec_id") =!= 0), "vec_id",
        "embedding", cents, cb, idxDir.toString)
      commitStaged()
    }
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.ivfPqResidualTopKFromIndex(s, idxDir.toString,
        emb.where(col("vec_id") =!= 0), "vec_id", "embedding", query,
        k = 10, nProbe = 4, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** Q152 — the q40 TYPED index pipeline at the REFERENCE dimensionality
    * (dim 768, `index_documents.py:263`), over a 100-doc slice so the
    * probe stays ~1 s (VERDICT r12 item 5): q40/q41 exercise the
    * embedder at dim 64, where whole-stage codegen hides
    * interpreted-eval pathologies that only appear past ~100 dims (the
    * round-12 PQ/OPQ encode blowup class — BASELINE r12 addendum); this
    * probe makes real-width failures fail the DRIVER gate, not just the
    * dim-768 spec rows. Same integer-exact projections as q40 (chunk
    * md5, nnz, nz-dim-sum); only the bucket modulus (768) and the slice
    * differ, so the oracle is q40's SQL with those two edits.
    */
  def q152IndexPipeline768(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val batchTs = java.time.Instant.parse("2026-01-01T00:00:00Z")
    Index.indexFrame(Index.buildIndex(
        documents(s, dir).where(col("doc_id") < 100),
        Index.IndexConfig(embeddingDim = 768)), Some(batchTs))
      .select(col("doc_id"), col("filename"), col("chunk_index"), col("split_strategy"),
        length(col("chunk_text")).as("chunk_len"),
        substring(md5(col("chunk_text")), 1, 16).as("chunk_fp"),
        expr("size(filter(embedding, v -> v != cast(0 as float)))").as("nnz"),
        expr("aggregate(zip_with(embedding, sequence(0, size(embedding) - 1)," +
          " (v, i) -> if(v != cast(0 as float), i, 0)), 0, (a, x) -> a + x)").as("nz_dim_sum"),
        unix_millis(col("created_at")).as("created_ms"))
      .orderBy(col("doc_id"), col("chunk_index"))
  }

  /** Q153 — scanned-document OCR ingestion (round 13; closes VERDICT r12
    * "What's missing" #3 to its offline-testable extent): fixture texts
    * rendered as IMAGE-ONLY PDFs through the [[graft.sources.Ocr]] glyph
    * atlas ([[graft.sources.DocFormats.MinimalPdf.writeScanned]] — no
    * text operators anywhere, the page class the reference extracts as
    * empty, `index_documents.py:38-47`), ingested DISTRIBUTED with the
    * OCR-enabled extractors, reduced to per-file length + digest. The
    * construction oracle (the q122–q137 discipline): DuckDB recomputes
    * the expected OCR text RELATIONALLY from documents.parquet —
    * printable-ASCII filter, 600-char cap, 60-col wrap, per-line rtrim
    * (trailing spaces carry no ink — real-scan semantics), \n join — so
    * the hash match proves the whole chain (glyph rasterize → PDF write
    * → image-XObject Flate decode → grid template match → page-tree
    * walk) is the identity on the supported class. Staging is the
    * [[stagedRoot]] discipline: 25 bounded docs rendered once per
    * fixture generation, bench reps time the INGESTION, not the render.
    */
  def q153ScannedOcr(s: SparkSession, dir: String): DataFrame = {
    implicit val sp: SparkSession = s
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val (staged, fresh, commitStaged) = stagedRoot("q153scan", dir, src)
    if (!fresh) {
      if (java.nio.file.Files.exists(staged))
        java.nio.file.Files.walk(staged).sorted(java.util.Comparator.reverseOrder())
          .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
      java.nio.file.Files.createDirectories(staged)
      val texts = documents(s, dir).where(col("doc_id") < 25)
        .select(col("doc_id"),
          substring(regexp_replace(col("text"), "[^ -~]", ""), 1, 600).as("f"))
        .where(length(col("f")) > 0)
        .collect() // bounded: ≤25 rows, ≤600 chars each (the q51 staging class)
      texts.foreach { r =>
        java.nio.file.Files.write(staged.resolve(s"doc${r.getLong(0)}.pdf"),
          graft.sources.DocFormats.MinimalPdf.writeScanned(r.getString(1), 60))
      }
      commitStaged()
    }
    graft.sources.DocumentSources.readDocuments(s, staged.toString,
        graft.sources.DocumentSources.ocrExtractors)
      .toDF()
      .select(col("filename"), length(col("text")).cast("long").as("text_len"),
        md5(col("text")).as("text_md5"))
      .orderBy(col("filename"))
  }

  /** Q154 — soft-dedup weights (round 13): the q48 near-dup closure over
    * the planted-duplicate corpus, but instead of keeping only reps the
    * whole corpus gets a 1/cluster_size sampling weight in integer ppm
    * ([[Dedup.softDedupWeights]] — the drop-vs-reweight alternative;
    * singletons weigh 1 000 000). Oracle: the q48 recursive-CTE replay
    * VERBATIM (generated from the same string) extended with singleton
    * assignment, rep counts and the same `div` arithmetic.
    */
  def q154SoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    Dedup.softDedupWeights(docs.select(col("doc_id")), "doc_id", pairs)
      .orderBy(col("doc_id"))
  }

  /** Q155 — duplication-aware sampling (round 13): the q154 soft-dedup
    * weights composed into [[Sampling.weightedSamplePerGroup]] — the
    * mixing step the weights exist FOR. Each doc's `weight_ppm` (integer
    * 1/cluster_size ppm) drives the deterministic weighted draw (priority
    * = weight·2⁴⁰ div md5-40bit(key), top-k per group), so a cluster's
    * members compete for the same expected mass one unique document gets:
    * near-dup-heavy groups stop dominating the sample without the hard
    * drop. Everything stays integer-exact (weights ppm, 40-bit hash,
    * `div`), so the oracle replays the FULL chain — minhash → closure →
    * weights → priority → rank — relationally in DuckDB. Scale shape: the
    * sampler is one partitioned window planned as WindowGroupLimit
    * (partial top-k before the shuffle); only (id, grp, weight) columns
    * move.
    */
  def q155SoftDedupWeightedSample(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    val weighted = Dedup.softDedupWeights(docs.select(col("doc_id")), "doc_id", pairs)
      .withColumn("grp", col("doc_id") % 3)
    Sampling.weightedSamplePerGroup(weighted, col("grp"), col("doc_id"),
        col("weight_ppm"), k = 8, salt = "sd1")
      .select(col("grp"), col("sample_rank"), col("doc_id"),
        col("weight_ppm"), col("priority"))
      .orderBy(col("grp"), col("sample_rank"))
  }

  /** Q156 — INCREMENTAL soft-dedup weights (round 13): the q154 table
    * maintained under a corpus append instead of rebuilt. Batch 1 (the
    * originals) folds into a fresh sketch store via
    * [[Dedup.incrementalNearDupPairs]] and seeds the v1 weights; batch 2
    * (the planted near-dups) probes the store asymmetrically (new×old +
    * new×new — old×old never recomputed) and
    * [[Dedup.updateSoftDedupWeights]] folds the new edges in with
    * O(change) work: only clusters a new edge touches are re-resolved
    * (their closure re-entered as rep-star edges), every untouched row
    * passes through an anti-join unchanged. The oracle is q154's SQL
    * VERBATIM — DuckDB recomputes weights from the UNION corpus and
    * never sees the incremental path, so the hash match proves
    * incremental ≡ fresh build cross-engine (the q149 discipline).
    */
  def q156IncrementalSoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val originals = docs.where(col("doc_id") < 100000)
    val dups = docs.where(col("doc_id") >= 100000)
    val store = scratchDir("q156store", dir).toString
    val oldPairs = Dedup.incrementalNearDupPairs(originals, "doc_id", "toks",
      store, shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    val v1 = Dedup.softDedupWeights(originals.select(col("doc_id")), "doc_id", oldPairs)
    val newPairs = Dedup.incrementalNearDupPairs(dups, "doc_id", "toks",
      store, shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    Dedup.updateSoftDedupWeights(v1, "doc_id", dups.select(col("doc_id")), newPairs)
      .orderBy(col("doc_id"))
  }

  /** Q157 — STREAMING soft-dedup weights store (round 13; round 14 adds
    * mid-lifecycle COMPACTION): the q156 composition run through the
    * micro-batch fold the streaming wrapper uses
    * ([[Dedup.foldSoftDedupWeightsBatch]] — durable per-batch pairs,
    * O(change) weights PATCHES under `_COMMIT`-marked batch_id subdirs),
    * then [[Dedup.compactSoftDedupWeights]] folds the first two batches
    * into one snapshot generation (caller-side atomic subtree swap), a
    * THIRD batch folds against the compacted store (its replay gate now
    * runs through the `_folded` ledger + snapshot), and the result is
    * served through the latest-wins reader
    * ([[Dedup.readSoftDedupWeights]]). The oracle is q154's SQL VERBATIM
    * (fresh recompute over the union corpus), so the hash match proves
    * the whole store lifecycle — fold → patch → compact → fold →
    * latest-wins read — equals a fresh batch build cross-engine.
    */
  def q157StreamingSoftDedupWeights(s: SparkSession, dir: String): DataFrame = {
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val root = scratchDir("q157store", dir)
    val store = root.resolve("store").toString
    val gen2 = root.resolve("gen2").toString
    Dedup.foldSoftDedupWeightsBatch(docs.where(col("doc_id") < 30),
      "doc_id", "toks", store, batchId = 0, threshold = 0.4)
    Dedup.foldSoftDedupWeightsBatch(
      docs.where(col("doc_id") >= 30 && col("doc_id") < 100000),
      "doc_id", "toks", store, batchId = 1, threshold = 0.4)
    Dedup.compactSoftDedupWeights(s, store, gen2, upToBatchId = 1,
      idCol = "doc_id")
    // the caller-side atomic swap: compacted weights/pairs subtrees replace
    // the live ones (neardup/ is untouched by contract)
    Seq("weights", "pairs").foreach { sub =>
      val cur = java.nio.file.Paths.get(store, sub)
      java.nio.file.Files.walk(cur).sorted(java.util.Comparator.reverseOrder())
        .forEach(x => { java.nio.file.Files.deleteIfExists(x); () })
      java.nio.file.Files.move(java.nio.file.Paths.get(gen2, sub), cur)
    }
    Dedup.foldSoftDedupWeightsBatch(docs.where(col("doc_id") >= 100000),
      "doc_id", "toks", store, batchId = 2, threshold = 0.4)
    Dedup.readSoftDedupWeights(s, store, "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Q158 — QUANTIZER REFRESH of the composed IVF-PQ index
    * ([[Search.refreshIvfPqIndex]] — VERDICT r13 item 2, the operator
    * [[Search.ivfDriftStats]] exists to trigger): q148's v1 index
    * (vec_id<8 seed centroids, md5-sampled codebooks) stages once per
    * sfDir; every invocation then RE-TRAINS both models on the current
    * corpus — coarse centroids re-sampled by md5 rank (salt 'rf',
    * [[Search.sampledCentroids]]), codebooks re-sampled by the q130
    * recipe — re-encodes the corpus in FULL into a NEW directory
    * (model-version marker, [[graft.operators.VectorStores.open]]-guarded
    * read), and answers the q148 query through the REFRESHED index. The
    * oracle replays the entire refresh relationally: q148's CTE chain
    * with the seed-centroid CTE swapped for the md5-ranked selection and
    * the codebook sampling restricted to the corpus, so the hash match
    * pins retrain → re-encode → probe → ADC → rescore cross-engine.
    */
  def q158IvfPqRefresh(s: SparkSession, dir: String): DataFrame = {
    val emb = embeddings(s, dir)
    val corpus = emb.where(col("vec_id") =!= 0)
    val src = java.nio.file.Paths.get(s"$dir/embeddings.parquet")
    val (v1Dir, fresh, commitStaged) = stagedRoot("q158ivfpqv1", dir, src)
    if (!fresh) {
      val cb = Search.pqSampledCodebooks(emb, "vec_id", "embedding",
        dim = 64, m = 8, ksub = 16)
      val cents = emb.where(col("vec_id") < 8)
        .select(col("vec_id").cast("int"), col("embedding"))
        .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
      Search.writeIvfPqIndex(corpus, "vec_id", "embedding", cents, cb,
        v1Dir.toString)
      commitStaged()
    }
    val v2 = scratchDir("q158refresh", dir).resolve("v2").toString
    Search.refreshIvfPqIndex(corpus, "vec_id", "embedding",
      v1Dir.toString, v2, nClusters = 8, dim = 64, m = 8, ksub = 16,
      salt = "rf")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.ivfPqTopKFromIndex(s, v2, corpus, "vec_id", "embedding", query,
        k = 10, nProbe = 4, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** Q159 — soft-dedup weights MULTIPLIED INTO a token-mass mix
    * ([[graft.operators.Sampling.duplicationAdjustedTokens]] →
    * [[graft.operators.Sampling.rebalanceTokenShares]] — the composition
    * SURVEY R164 promised beyond q155's weighted draw): each doc's token
    * count is scaled by its q154 ppm weight (integer `div`, so a near-dup
    * cluster's total mass counts its content ONCE), and the rebalance
    * thresholds derive from those ADJUSTED masses — a group padded with
    * duplicate copies stops inflating its share of the mix. The oracle
    * replays the full chain: q154's weight CTEs verbatim, the token
    * multiply, then q79's threshold arithmetic over the adjusted masses.
    */
  def q159WeightedTokenRebalance(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sampling
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
    val pairs = Dedup.minhashNearDupPairs(docs, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.4)
    val weighted = Dedup.softDedupWeights(
        docs.select(col("doc_id")), "doc_id", pairs)
      .join(docs.select(col("doc_id"), col("n_tok")), Seq("doc_id"))
      .withColumn("grp", (col("doc_id") % 3).cast("string"))
      .withColumn("w_tok", Sampling.duplicationAdjustedTokens(
        col("n_tok"), col("weight_ppm")))
    Sampling.rebalanceTokenShares(weighted, col("grp"), col("doc_id"),
        col("w_tok"),
        targetShares = Map("0" -> 0.5, "1" -> 0.3, "2" -> 0.2), salt = "wmix")
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n_kept"), sum(col("w_tok")).as("wtokens_kept"))
      .orderBy(col("grp"))
  }

  /** Q160 — the CAPSTONE CURATION PIPELINE (VERDICT r13 item 3): every
    * stage a real pretraining-data pipeline runs, composed end to end on
    * one corpus and oracle-checked as ONE probe:
    *
    *   construct (line-synthesized corpus + marker-planted near-dup
    *   copies of doc_id<60) → Gopher rule gate (q88) → trigram-LM gate,
    *   top half by global rank (q88) → corpus-level line dedup across
    *   the survivors, emptied docs dropped (q82) → near-dup SOFT WEIGHTS
    *   over the rebuilt texts (q154, threshold 0.3 — the planted copies'
    *   per-line markers survive line dedup but keep most 3-shingles) →
    *   contamination screen vs the raw doc_id<5 benchmark, drop if
    *   overlap ≥ half the doc's 8-grams (q71, integer form) →
    *   temperature mix over DEDUP-ADJUSTED token mass
    *   ([[graft.operators.Sampling.temperatureSampleByMass]] ×
    *   [[graft.operators.Sampling.duplicationAdjustedTokens]], α=0.5) →
    *   first-fit packing, 1000-token budget per doc_id%4 shard (q73) →
    *   deterministic epoch shuffle (q113).
    *
    * One row per corpus doc with the FULL stage provenance (the q88
    * per-doc-verdict discipline): each stage's verdict/assignment, with
    * sentinels where the doc was already dropped — so per-stage survivor
    * counts are one SUM away. The oracle replays all eight stages in a
    * single CTE chain built from the q88/q82/q48-q154/q71/q94/q73/q113
    * spellings.
    */
  def q160CurationPipeline(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{CheckpointStrategy, LmScore, Ranks, Sampling}
    // S0 — corpus: lined base + TWO marker-planted sibling copies of each
    // doc_id<60 original. Full-length copies keep the originals' Gopher
    // stats and LM scores (so siblings survive the gates together —
    // guaranteed near-dup pairs reach the weights stage); a per-doc
    // marker PREFIXES every line, so every planted line is distinct
    // (survives line dedup) while interior 3-shingles stay shared (real
    // minhash pairs). The marker spells the 6-digit planted id as SIX
    // COMMON CORPUS WORDS: anything OOV to the gate's trigram model
    // (digit or letter jumbles, even English stopwords — the fixture text
    // is a synthetic vocabulary) sinks every copy below the gate's
    // median; in-vocabulary markers ride through like real prose.
    val base = documents(s, dir).select(col("doc_id"), col("lang"),
      regexp_replace(col("text"), " (table|row) ", "\n").as("text"))
    // fixture-vocabulary words: the trigram gate's model is trained on
    // THIS corpus, so markers must spell the id in its own common words —
    // English stopwords (let alone digit/letter jumbles) are OOV trigrams
    // that sink every planted copy below the gate's median
    val digitWords = typedLit(Map(
      "0" -> "the", "1" -> "row", "2" -> "key", "3" -> "data", "4" -> "join",
      "5" -> "sort", "6" -> "fast", "7" -> "line", "8" -> "hash",
      "9" -> "group"))
    def plantCopy(off: Int) = {
      val idStr = (col("doc_id") + off).cast("string")
      val mk = concat((1 to 6).map(k =>
        concat(element_at(digitWords, substring(idStr, k, 1)), lit(" "))): _*)
      documents(s, dir).where(col("doc_id") < 60)
        .select((col("doc_id") + off).as("doc_id"), col("lang"),
          concat(mk, regexp_replace(
            regexp_replace(col("text"), " (table|row) ", "\n"),
            lit("\n"), concat(lit("\n"), mk))).as("text"))
    }
    val planted = plantCopy(100000).unionByName(plantCopy(200000))
    // S1 — Gopher gate (materialized once: the regex-heavy rules feed the
    // LM filter AND the final provenance join — the q88 discipline; Local
    // is the deliberate single-JVM probe-harness choice, strategy matrix
    // spec'd in DedupSpec)
    val corpus = CheckpointStrategy.materialize(
      base.unionByName(planted)
        .withColumn("toks", TextFunctions.wordTokens(col("text")))
        .withColumn("gopher_pass",
          TextAnalysis.gopherRulesPass(col("text"), col("toks")))
        .drop("toks"),
      CheckpointStrategy.Local)
    // S2 — trigram-LM gate: model on the untouched 100 ≤ id < 100000
    // slice, survivors ranked shuffle-free, integer top-half rule
    val model = LmScore.trainTrigramModel(
      corpus.where(col("doc_id") >= 100 && col("doc_id") < 100000), col("text"))
    val scored = CheckpointStrategy.materialize(
      // fused kernel: every score materializes into the checkpoint (r20)
      LmScore.scoreDocsFused(corpus.where(col("gopher_pass")), "doc_id",
          col("text"), model)
        .select(col("id").as("doc_id"), col("avg_logp")),
      CheckpointStrategy.Local)
    val total = scored.agg(count(lit(1)).as("_m"))
    val lmKept = CheckpointStrategy.materialize(
      Ranks.globalRank(scored,
          Seq(col("avg_logp").desc, col("doc_id").asc), "rnk")
        .crossJoin(broadcast(total))
        .where(col("rnk") * 2 <= col("_m") + 1)
        .select(col("doc_id")),
      CheckpointStrategy.Local)
    // S3 — corpus-level line dedup across the surviving set; docs whose
    // every line was claimed drop out
    val rebuilt = CheckpointStrategy.materialize(
      Dedup.dedupLinesAcrossCorpus(
          corpus.join(lmKept, Seq("doc_id"), "left_semi")
            .select(col("doc_id"), col("text")), "doc_id", "text")
        .where(col("n_kept") > 0)
        .select(col("doc_id"), col("text")),
      CheckpointStrategy.Local)
    val s3 = rebuilt
      .join(corpus.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
      .withColumn("n_tok", size(col("toks")).cast("long"))
    // S4 — soft-dedup weights over the rebuilt survivor texts
    val pairs = Dedup.minhashNearDupPairs(s3, "doc_id", "toks",
      shingleN = 3, numHashes = 12, numBands = 4, threshold = 0.3)
    val weights = Dedup.softDedupWeights(
      s3.select(col("doc_id")), "doc_id", pairs)
    // S5 — contamination screen vs the RAW benchmark slice (docs 0–4 of
    // the base corpus — an external eval set, independent of pipeline
    // survival); integer gate: drop if overlap ≥ half the doc's 8-grams
    val bench = base.where(col("doc_id") < 5)
      .select(TextFunctions.wordTokens(col("text")).as("toks"))
    val contam = Dedup.contaminationScores(
        s3.select(col("doc_id"), col("toks")), "doc_id", "toks",
        bench, "toks", n = 8)
      .select(col("id").as("doc_id"), col("n_grams"), col("n_overlap"))
    val s5 = CheckpointStrategy.materialize(
      s3.select(col("doc_id"), col("lang"), col("n_tok"))
        .join(weights.select(col("doc_id"), col("weight_ppm")), Seq("doc_id"))
        .join(contam, Seq("doc_id"))
        .withColumn("contam",
          ((col("n_grams") > 0) && (col("n_overlap") * 2 >= col("n_grams")))
            .cast("int")),
      CheckpointStrategy.Local)
    val clean5 = s5.where(col("contam") === 0)
      .withColumn("w_tok", Sampling.duplicationAdjustedTokens(
        col("n_tok"), col("weight_ppm")))
    // S6 — temperature mix over dedup-adjusted token MASS (the weights
    // folded into the mix: duplicated content counts once per share)
    val mixed = CheckpointStrategy.materialize(
      Sampling.temperatureSampleByMass(clean5, col("lang"), col("doc_id"),
        col("w_tok"), alpha = 0.5, salt = "cp1"),
      CheckpointStrategy.Local)
    // S7 + S8 — pack the mix, then the deterministic epoch shuffle
    val packed = Sampling.packSequences(
      mixed.select(col("doc_id"),
        (col("doc_id") % 4).cast("int").as("shard"), col("n_tok")),
      "doc_id", "shard", "n_tok", budget = 1000)
    val shuffled = Sampling.shuffleOrder(
      mixed.select(col("doc_id")), col("doc_id"), salt = "cp2")
    // provenance: one row per corpus doc, sentinels past the drop point
    corpus.select(col("doc_id"), col("gopher_pass").cast("int").as("gopher_pass"))
      .join(lmKept.withColumn("lm_kept", lit(1)), Seq("doc_id"), "left")
      .join(rebuilt.select(col("doc_id")).withColumn("line_kept", lit(1)),
        Seq("doc_id"), "left")
      .join(s5.select(col("doc_id"), col("weight_ppm"), col("contam")),
        Seq("doc_id"), "left")
      .join(clean5.select(col("doc_id"), col("w_tok")), Seq("doc_id"), "left")
      .join(mixed.select(col("doc_id")).withColumn("mix_kept", lit(1)),
        Seq("doc_id"), "left")
      .join(packed.select(col("id").as("doc_id"), col("pack_id"),
        col("pack_pos")), Seq("doc_id"), "left")
      .join(shuffled.select(col("doc_id"), col("shuffle_rank")),
        Seq("doc_id"), "left")
      .select(col("doc_id"), col("gopher_pass"),
        coalesce(col("lm_kept"), lit(0)).as("lm_kept"),
        coalesce(col("line_kept"), lit(0)).as("line_kept"),
        coalesce(col("weight_ppm"), lit(0L)).as("weight_ppm"),
        coalesce(col("contam"), lit(-1)).as("contam"),
        coalesce(col("w_tok"), lit(-1L)).as("w_tok"),
        coalesce(col("mix_kept"), lit(0)).as("mix_kept"),
        coalesce(col("pack_id"), lit(-1L)).as("pack_id"),
        coalesce(col("pack_pos"), lit(-1)).as("pack_pos"),
        coalesce(col("shuffle_rank"), lit(0L)).as("shuffle_rank"))
      .orderBy(col("doc_id"))
  }

  /** Q161 — BM25 through the append-then-COMPACT index lifecycle
    * ([[Search.compactTextIndex]] — round 14's compaction symmetry,
    * oracle-checked): the staged index is built deliberately FRAGMENTED
    * (even doc_ids written, odd doc_ids appended — the unsorted file-sets
    * sustained ingest leaves), every invocation pays the compaction
    * rewrite into a fresh scratch generation, and the query runs against
    * the COMPACTED store. The oracle is q97's BM25 recompute VERBATIM —
    * DuckDB never sees the append/compact lifecycle, so the hash match
    * proves write → append → compact → query ≡ the direct corpus
    * computation cross-engine (the q149/q157 discipline applied to
    * layout maintenance).
    */
  def q161Bm25Compacted(s: SparkSession, dir: String): DataFrame = {
    val src = java.nio.file.Paths.get(s"$dir/documents.parquet")
    val (idxDir, fresh, commitStaged) = stagedRoot("q161idx", dir, src)
    if (!fresh) {
      implicit val sp: SparkSession = s
      val docs = documents(s, dir)
        .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
      Search.writeTextIndex(docs.where(col("doc_id") % 2 === 0),
        "doc_id", "toks", idxDir.toString)
      Search.appendTextIndex(docs.where(col("doc_id") % 2 === 1),
        "doc_id", "toks", idxDir.toString)
      commitStaged()
    }
    val compacted = scratchDir("q161cmp", dir).resolve("ix").toString
    Search.compactTextIndex(s, idxDir.toString, compacted, targetFiles = 8)
    Search.bm25TopKFromIndex(s, compacted,
        queryTerms = Seq("data", "model", "search"), k = 10)
      .select(col("id").as("doc_id"), fl(col("score") * 1000, 0).as("score_m"))
  }

  /** Q162 — the FULL persisted-store lifecycle served THROUGH the
    * generation catalog ([[graft.sources.Generations]] — VERDICT r14
    * item 2, closing R176's last inch): v1 IVF-PQ built on the odd half
    * of the corpus inside a STAGED generation and atomically published →
    * the fused update folds the even half in under the frozen models
    * (resolve → stage → publish, a new directory end to end) → a
    * compaction generation (layout only) → a quantizer-REFRESH
    * generation (both models retrained on the full corpus — q158's
    * recipe, salt 'rf') → `vacuum(keep = 0)` reclaims every superseded
    * generation → the q148 query is answered through the catalog pointer
    * (`ivfPqTopKFromIndex` over `Generations.resolve` — one resolve, then
    * the live generation is read). The oracle is q158's relational retrain replay
    * VERBATIM — DuckDB never sees staging, pointers, compaction or
    * vacuum — so the hash match proves the catalog lifecycle collapses
    * to the refreshed index's defined semantics (the q161 discipline
    * applied to the serving path).
    */
  def q162CatalogLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Generations
    import s.implicits._
    val emb = embeddings(s, dir)
    val corpus = emb.where(col("vec_id") =!= 0)
    val hconf = s.sparkContext.hadoopConfiguration
    val root = scratchDir("q162cat", dir).toString
    // generation 0: q148's staging models (vec_id<8 seeds, md5 codebooks)
    val g0 = Generations.stage(root, hconf)
    val cb = Search.pqSampledCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
    Search.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", cents, cb, g0)
    Generations.publish(root, g0, hconf)
    // generation 1: fused update under the frozen v1 models
    val g1 = Generations.stage(root, hconf)
    Search.updateIvfPqIndex(s, Generations.resolve(root, hconf), g1,
      retireIds = Seq.empty[Long].toDF("vec_id"),
      refreshBatch = corpus.where(col("vec_id") % 2 === 0),
      "vec_id", "embedding")
    Generations.publish(root, g1, hconf)
    // generation 2: compaction (layout only — models + answers carried)
    val g2 = Generations.stage(root, hconf)
    Search.compactIvfPqIndex(s, Generations.resolve(root, hconf), g2)
    Generations.publish(root, g2, hconf)
    // generation 3: quantizer refresh, both models retrained (q158)
    val g3 = Generations.stage(root, hconf)
    Search.refreshIvfPqIndex(corpus, "vec_id", "embedding",
      Generations.resolve(root, hconf), g3, nClusters = 8, dim = 64,
      m = 8, ksub = 16, salt = "rf")
    Generations.publish(root, g3, hconf)
    // superseded generations reclaimed; the live one keeps serving
    Generations.vacuum(root, keep = 0, hconf)
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.ivfPqTopKFromIndex(s, Generations.resolve(root, hconf), corpus,
        "vec_id", "embedding", query, k = 10, nProbe = 4, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** Q163 — the TEXT-index catalog lifecycle driven by the LAYOUT POLICY
    * ([[Search.maintainTextIndex]] — q162's symmetry for the family with
    * no model to drift): a deliberately FRAGMENTED index (evens written,
    * odds appended — q161's construction) is built inside generation 0
    * of a fresh catalog and published; ONE policy tick observes the
    * fragmentation past its budget, pays the compaction into a staged
    * generation and publishes it; a second tick no-ops (healthy — the
    * require pins both policy verdicts); the query is answered through
    * the pointer (`bm25TopKFromIndex` over `Generations.resolve`). The oracle is q97's
    * BM25 recompute BY REFERENCE — DuckDB never sees the policy, the
    * catalog or the layout — so the hash match proves the policy's
    * rewrite + swap is answer-invariant. The budget is 1/1 so the trip
    * is partitioning-invariant (the fragmented store holds ≥ 2 files —
    * two write jobs — under ANY shuffle-partition count, the sweep's
    * sp=1 floor included).
    */
  def q163TextPolicyLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Generations
    implicit val sp: SparkSession = s
    val hconf = s.sparkContext.hadoopConfiguration
    val root = scratchDir("q163cat", dir).toString
    val docs = documents(s, dir)
      .select(col("doc_id"), TextFunctions.wordTokens(col("text")).as("toks"))
    val g0 = Generations.stage(root, hconf)
    Search.writeTextIndex(docs.where(col("doc_id") % 2 === 0),
      "doc_id", "toks", g0)
    Search.appendTextIndex(docs.where(col("doc_id") % 2 === 1),
      "doc_id", "toks", g0)
    Generations.publish(root, g0, hconf)
    val tick = Search.maintainTextIndex(s, root,
      maxPostingsFiles = 1, targetFiles = 1)
    require(tick.contains("gen-1"),
      s"the fragmented generation must trip the layout policy, got $tick")
    require(Search.maintainTextIndex(s, root,
        maxPostingsFiles = 1, targetFiles = 1).isEmpty,
      "the compacted generation must read healthy on the next tick")
    Search.bm25TopKFromIndex(s, Generations.resolve(root, hconf),
        queryTerms = Seq("data", "model", "search"), k = 10)
      .select(col("id").as("doc_id"), fl(col("score") * 1000, 0).as("score_m"))
  }

  /** Q164 — the VECTOR drift policy under CORRECTNESS
    * ([[Search.maintainVectorIndex]] — VERDICT r15 item 1, q163's
    * construction applied to the MODEL axis): v1 IVF-PQ built on the odd
    * half of the corpus inside generation 0 of a fresh catalog and
    * published; ONE policy tick at the live store's own measured health
    * is pinned as a TRUE no-op (threshold = the observed value itself —
    * `>=` holds, nothing is even staged, the pointer never moves); a
    * second tick past any attainable cosine mean trips the drift branch,
    * which RE-TRAINS both models on the FULL corpus (q158's recipe, salt
    * 'rf') into a staged generation and publishes it atomically; the
    * query is answered through the pointer (`ivfPqTopKFromIndex` over
    * `Generations.resolve`). The observable is the
    * codes-family form ([[Search.minCorpusClusterSimilarity]] — the
    * store holds PQ codes, so drift is scored on the full-precision
    * corpus against the live generation's centroids). The oracle is
    * q158's relational retrain replay BY REFERENCE — DuckDB never sees
    * the policy, the catalog, or the thresholds — so the hash match
    * proves the policy's observe → refresh → publish collapses to the
    * refreshed index's defined semantics.
    */
  def q164VectorPolicyLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Generations
    import s.implicits._
    val emb = embeddings(s, dir)
    val corpus = emb.where(col("vec_id") =!= 0)
    val hconf = s.sparkContext.hadoopConfiguration
    val root = scratchDir("q164cat", dir).toString
    val g0 = Generations.stage(root, hconf)
    val cb = Search.pqSampledCodebooks(emb, "vec_id", "embedding",
      dim = 64, m = 8, ksub = 16)
    val cents = emb.where(col("vec_id") < 8)
      .select(col("vec_id").cast("int"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getSeq[Float](1).toArray)).toSeq
    Search.writeIvfPqIndex(corpus.where(col("vec_id") % 2 === 1),
      "vec_id", "embedding", cents, cb, g0)
    Generations.publish(root, g0, hconf)
    def tick(threshold: Double) = Search.maintainVectorIndex(s, root,
      threshold,
      observe = p => Search.minCorpusClusterSimilarity(s, p, corpus,
        "embedding"),
      refresh = (src, dst) => Search.refreshIvfPqIndex(corpus, "vec_id",
        "embedding", src, dst, nClusters = 8, dim = 64, m = 8, ksub = 16,
        salt = "rf"))
    val healthyNow = Search.minCorpusClusterSimilarity(s,
      Generations.resolve(root, hconf), corpus, "embedding")
    require(tick(healthyNow).isEmpty,
      "the live store at its own measured health must read healthy")
    require(Generations.history(root, hconf) == Seq("gen-0"),
      "a healthy tick must not even stage a generation")
    val tick2 = tick(1.01) // above any attainable cosine mean — drifted
    require(tick2.contains("gen-1"),
      s"the drifted tick must refresh and publish gen-1, got $tick2")
    val query = emb.where(col("vec_id") === 0)
      .select(col("embedding")).head().getSeq[Float](0)
    Search.ivfPqTopKFromIndex(s, Generations.resolve(root, hconf), corpus,
        "vec_id", "embedding", query, k = 10, nProbe = 4, rescore = 50)
      .select(col("vec_id"), fl(col("score"), 3).as("cos_sim"))
  }

  /** Q165 — the WEIGHTS patch-history policy under CORRECTNESS
    * ([[Dedup.maintainSoftDedupWeights]] — VERDICT r15 item 3,
    * completing the maintenance-policy trio's oracle story): q157's
    * store driven THROUGH the generation catalog with the policy doing
    * the swap the probe previously hand-rolled — two patch batches fold
    * into generation 0 and publish; ONE policy tick observes the patch
    * history past its budget (maxBatches = 1), compacts into a staged
    * generation and publishes it atomically; a second tick no-ops (the
    * snapshot IS one batch — healthy); a third batch folds into the NEW
    * live generation (replay protection carries — the compacted ledger
    * and sketches survive the swap); the read goes through the pointer
    * (`readSoftDedupWeights` over `Generations.resolve`). The oracle is q154's
    * SQL BY REFERENCE — DuckDB never sees batching, compaction, the
    * catalog or the policy — so the hash match proves the policy's
    * observe → compact → publish is latest-wins-invariant.
    */
  def q165WeightsPolicyLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Generations
    val hconf = s.sparkContext.hadoopConfiguration
    val docs = docsWithNearDups(s, dir)
      .withColumn("toks", TextFunctions.wordTokens(col("text")))
    val root = scratchDir("q165cat", dir).toString
    val g0 = Generations.stage(root, hconf)
    Dedup.foldSoftDedupWeightsBatch(docs.where(col("doc_id") < 30),
      "doc_id", "toks", g0, batchId = 0, threshold = 0.4)
    Dedup.foldSoftDedupWeightsBatch(
      docs.where(col("doc_id") >= 30 && col("doc_id") < 100000),
      "doc_id", "toks", g0, batchId = 1, threshold = 0.4)
    Generations.publish(root, g0, hconf)
    val tick = Dedup.maintainSoftDedupWeights(s, root, maxBatches = 1,
      committedBatchId = 1, idCol = "doc_id")
    require(tick.contains("gen-1"),
      s"two patch batches past a budget of one must trip the policy, got $tick")
    require(Dedup.maintainSoftDedupWeights(s, root, maxBatches = 1,
        committedBatchId = 1, idCol = "doc_id").isEmpty,
      "the compacted generation must read healthy on the next tick")
    Dedup.foldSoftDedupWeightsBatch(docs.where(col("doc_id") >= 100000),
      "doc_id", "toks", Generations.resolve(root, hconf), batchId = 2,
      threshold = 0.4)
    Dedup.readSoftDedupWeights(s, Generations.resolve(root, hconf), "doc_id")
      .orderBy(col("doc_id"))
  }

  /** Q166 — the SKETCH-STORE maintenance policy under CORRECTNESS
    * ([[graft.operators.Sketches.maintainSketchStore]] — the policy
    * discipline's FOURTH store axis, round 16): q120's frequency-sketch
    * store built as three appended batches inside generation 0 of a
    * fresh catalog and published; ONE policy tick observes the data-file
    * count past its budget (three append file-sets > 2), folds the
    * caller-named CLOSED range {batch0, batch1} into a staged generation
    * and publishes it atomically; a second tick reads healthy (the
    * compaction's file budget — both verdicts require-pinned); the
    * heavy-hitter candidates are read through the pointer
    * (`heavyHitterCandidates` over `Generations.resolve`) and
    * verified exactly, q120's discipline (candidates are a superset of
    * the true heavy hitters by the sketch's no-false-negative guarantee,
    * invariant under merge; the exact recount drops false positives).
    * The oracle is q120's exact heavy-hitter SQL BY REFERENCE — DuckDB
    * never sees sketches, the catalog or the policy.
    */
  def q166SketchPolicyLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.Sketches
    import graft.sources.Generations
    val item = when(col("event_id") % 4 < 3,
        concat(lit("hot_"), col("event_id") % 8))
      .otherwise(concat(lit("cold_"), col("event_id"))).as("item")
    def stream = events(s, dir).select(item, col("event_id"))
    val hconf = s.sparkContext.hadoopConfiguration
    val root = scratchDir("q166cat", dir).toString
    val g0 = Generations.stage(root, hconf)
    for (b <- 0 to 2)
      Sketches.appendFrequencySketches(
        stream.where(col("event_id") % 3 === b).withColumn("grp", lit("all")),
        "grp", "item", batchId = s"batch$b", storeDir = g0)
    Generations.publish(root, g0, hconf)
    val tick = Sketches.maintainSketchStore(s, root, "freq",
      closedBatchIds = Seq("batch0", "batch1"),
      compactedBatchId = "batch0-1", maxDataFiles = 2, targetFiles = 2)
    require(tick.contains("gen-1"),
      s"three append file-sets past a budget of two must trip the policy, got $tick")
    require(Sketches.maintainSketchStore(s, root, "freq", Seq("batch2"),
        "batch2c", maxDataFiles = 2, targetFiles = 2).isEmpty,
      "the compacted generation must read healthy on the next tick")
    val total = stream.count()
    val minCount = total / 100 // 1% support, integer threshold (DuckDB //)
    val cand = Sketches.heavyHitterCandidates(s,
      Generations.resolve(root, hconf), minCount = minCount)
    stream
      .join(broadcast(cand.select(col("item"))), Seq("item"), "left_semi")
      .groupBy(col("item"))
      .agg(count(lit(1)).as("n_events"))
      .where(col("n_events") >= minCount) // drop sketch false positives
      .orderBy(col("item"))
  }

  /** Q167 — the PERCEPTUAL SEQUENCE store's maintenance policy under
    * CORRECTNESS ([[Dedup.maintainSequenceStore]] — the policy
    * discipline's FIFTH store axis, round 16): q128's two-batch
    * construction driven through a generation catalog with the streaming
    * sink's epoch-keyed durable-pairs discipline — batch 1 (25 originals,
    * zero pairs — require-pinned) folds into generation 0 and publishes;
    * batch 2 (trimmed + exact + composed near-dups) folds into the live
    * generation; ONE policy tick observes the sigs fragmentation past its
    * budget, compacts BOTH legs (sigs re-range-sorted, the closed pairs
    * epochs folded to one bounded subdir) into a staged generation and
    * publishes atomically; a second tick reads healthy; a REPLAY of
    * batch 2 against the compacted store no-ops (the sigs anti-join keys
    * off content, preserved row-for-row — require-pinned); the answer is
    * the pairs store read through the pointer. The oracle is q128's SQL
    * BY REFERENCE — pair-content parity through compaction is exactly the
    * compactor's contract, and DuckDB never sees epochs, the catalog or
    * the policy.
    */
  def q167SequencePolicyLifecycle(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Generations
    val hconf = s.sparkContext.hadoopConfiguration
    // the streaming sink's fold shape: pairs land epoch-keyed, durable
    // subdirs never rewritten (Streams.streamingSequenceDedup) — the
    // construction shared with q168/q169 ([[seedSequenceCatalogWithReplay]])
    val (root, refoldBatch2) = seedSequenceCatalogWithReplay(s, "q167cat", dir)
    val tick = Dedup.maintainSequenceStore(s, root, committedBatchId = 1L,
      maxSigFiles = 1, targetFiles = 1)
    require(tick.contains("gen-1"),
      s"two fold file-sets past a budget of one must trip the policy, got $tick")
    require(Dedup.maintainSequenceStore(s, root, committedBatchId = 1L,
        maxSigFiles = 1, targetFiles = 1).isEmpty,
      "the compacted generation must read healthy on the next tick")
    require(refoldBatch2(Generations.resolve(root, hconf)).isEmpty,
      "a replay against the compacted store must no-op (content-keyed)")
    sequenceCatalogPairs(s, root)
  }

  /** Q167's video-sequence catalog construction, shared with q168/q169:
    * batch 1 (25 screened originals — zero pairs, require-pinned) folds
    * into generation 0 and publishes; batch 2 (trimmed + exact + composed
    * near-dups per original) folds epoch 1 into the live generation
    * through the streaming sink's epoch-keyed pairs layout. Leaves the
    * catalog exactly two sigs file-sets deep — one tick past a
    * maxSigFiles=1 budget. Returns the catalog root plus a batch-2
    * refold closure (q167 pins replay idempotence with it).
    */
  private def seedSequenceCatalogWithReplay(s: SparkSession, tag: String,
      dir: String): (String, String => DataFrame) = {
    implicit val sp: SparkSession = s
    import s.implicits._
    import graft.sources.{Generations, Multimodal}
    val nFrames = 8
    val (base, decoy) = shiftDiverseVideoSeeds
    def clips(rows: Seq[(Long, Long, Long)]): DataFrame =
      rows.toDF("media_id", "seed", "decoy")
        .as[(Long, Long, Long)]
        .map { case (id, seed, dec) =>
          val bytes = dec match {
            case -1L => Multimodal.synthAvi(seed, nFrames)
            case -2L => Multimodal.synthAviTrimmed(seed, nFrames - 2, 2)
            case d => Multimodal.synthAviComposed(
              (seed, 3) +: (1 until nFrames).map(p => (d, p)))
          }
          (id, bytes)
        }
        .toDF("media_id", "content")
    def sigs(rows: Seq[(Long, Long, Long)]): DataFrame =
      Multimodal.videoSequenceDHashes(clips(rows), "media_id", "content",
        stride = 1)
    val hconf = s.sparkContext.hadoopConfiguration
    val root = scratchDir(tag, dir).toString
    val batch1 = (0 until 25).map(i => (i.toLong, base(i), -1L))
    val batch2 = (0 until 25).flatMap { i =>
      Seq((i + 1000L, base(i), -2L), (i + 2000L, base(i), -1L),
        (i + 3000L, base(i), decoy(i)))
    }
    def fold(rows: Seq[(Long, Long, Long)], store: String,
        epoch: Long): DataFrame =
      // the epoch write IS the materialization (pairsSink — one job
      // instead of checkpoint-then-write; the schema-explicit read keeps
      // the zero-pair batch-1 epoch readable)
      Dedup.incrementalSequenceNearDups(sigs(rows), "media_id",
        "frame_idx", "vhash", store, maxHamming = 3, numBands = 4,
        minVoteFrac = 0.7, maxShift = 3,
        pairsSink = Some { out =>
          val dir = s"$store/pairs/batch_id=$epoch"
          out.write.mode(org.apache.spark.sql.SaveMode.Overwrite).parquet(dir)
          s.read.schema(out.schema).parquet(dir)
        })
    val g0 = Generations.stage(root, hconf)
    require(fold(batch1, g0, 0L).isEmpty,
      "batch 1 originals must not pair with each other")
    Generations.publish(root, g0, hconf)
    fold(batch2, Generations.resolve(root, hconf), 1L)
    (root, store => Dedup.incrementalSequenceNearDups(sigs(batch2),
      "media_id", "frame_idx", "vhash", store, maxHamming = 3,
      numBands = 4, minVoteFrac = 0.7, maxShift = 3))
  }

  private def seedSequenceCatalog(s: SparkSession, tag: String,
      dir: String): String = seedSequenceCatalogWithReplay(s, tag, dir)._1

  /** The sequence catalog's answer surface: the pairs store read through
    * the live pointer — q128's expected pair set when only the
    * seed construction's folds contributed pairs.
    */
  private def sequenceCatalogPairs(s: SparkSession, root: String): DataFrame =
    s.read.parquet(s"${graft.sources.Generations.resolve(root,
        s.sparkContext.hadoopConfiguration)}/pairs")
      .select(col("id1"), col("id2"), col("frame_offset"),
        col("matched_frames"), col("total_frames"), col("vote_frac"))
      .orderBy(col("id1"), col("id2"))

  /** Q168 — [[graft.operators.Maintenance.maintainAll]], the scheduler's
    * one-call sweep over registered store policies (VERDICT r16 item 2),
    * composed over TWO families: q166's frequency-sketch catalog (three
    * append file-sets past a budget of two) and q167's video-sequence
    * catalog (two fold file-sets past a budget of one), both fragmented.
    * ONE sweep observes both, ticks both — per-store verdicts, observed
    * file counts and published generation names all require-pinned — and
    * a second sweep reads the whole fleet healthy. The sketch leg's
    * heavy-hitter candidates are re-read through the compacted catalog
    * (the sketch no-false-negative guarantee, q166's discipline); the
    * answer is the sequence catalog's pairs store read through the
    * pointer, so the oracle is q128's SQL BY REFERENCE — DuckDB never
    * sees catalogs, policies or the sweep.
    */
  def q168MaintainAllSweep(s: SparkSession, dir: String): DataFrame = {
    import graft.operators.{Maintenance, Sketches}
    import graft.operators.Maintenance.{SketchPolicy, SequencePolicy}
    import graft.sources.Generations
    val hconf = s.sparkContext.hadoopConfiguration
    // sketch leg: q166's construction (hot/cold event items, 3 appends)
    val item = when(col("event_id") % 4 < 3,
        concat(lit("hot_"), col("event_id") % 8))
      .otherwise(concat(lit("cold_"), col("event_id"))).as("item")
    def stream = events(s, dir).select(item, col("event_id"))
    val skRoot = scratchDir("q168sk", dir).toString
    val skG0 = Generations.stage(skRoot, hconf)
    for (b <- 0 to 2)
      Sketches.appendFrequencySketches(
        stream.where(col("event_id") % 3 === b).withColumn("grp", lit("all")),
        "grp", "item", batchId = s"batch$b", storeDir = skG0)
    Generations.publish(skRoot, skG0, hconf)
    // sequence leg: q167's construction
    val seqRoot = seedSequenceCatalog(s, "q168cat", dir)
    val policies = Seq(
      SketchPolicy(skRoot, "freq", closedBatchIds = Seq("batch0", "batch1"),
        compactedBatchId = "batch0-1", maxDataFiles = 2, targetFiles = 2),
      SequencePolicy(seqRoot, committedBatchId = 1L, maxSigFiles = 1,
        targetFiles = 1))
    val sweep = Maintenance.maintainAll(s, policies)
    require(sweep.map(_.verdict) == Seq("published", "published"),
      s"both fragmented stores must tick in one sweep, got $sweep")
    require(sweep.forall(_.published.contains("gen-1")),
      s"both catalogs publish their first compacted generation, got $sweep")
    // file-count observables scale with the WRITER's partitioning (each
    // append lands >= 1 data file, more under high shuffle-partition
    // configs), so the pins are lower bounds — the partitioning sweep
    // caught an exact ==3.0 here at shuffle.partitions=200
    require(sweep.head.observed >= 3.0 && sweep(1).observed >= 2.0,
      s"the report carries each policy's own observable, got $sweep")
    val again = Maintenance.maintainAll(s, policies)
    require(again.map(_.verdict) == Seq("healthy", "healthy"),
      s"the whole fleet reads healthy on the next sweep, got $again")
    // the compacted sketch catalog still serves (no-false-negative):
    // every hot item survives as a candidate at 1% support
    val total = stream.count()
    val cand = Sketches.heavyHitterCandidates(s,
      Generations.resolve(skRoot, hconf), minCount = total / 100).select("item")
      .collect().map(_.getString(0)).toSet
    // residues with r % 4 == 3 route to cold_<id>, so only six hot items
    // exist by construction
    require((0 to 7).filter(_ % 4 < 3).forall(h => cand.contains(s"hot_$h")),
      s"compacted sketches must keep every true heavy hitter, got $cand")
    sequenceCatalogPairs(s, seqRoot)
  }

  /** Q169 — VACUUM under the maintenance policies (VERDICT r16 item 4,
    * the close of the refusal story): the policies abandon a staged
    * generation when the quiescence tripwire fires, and this drives the
    * full recovery arc against q167's sequence catalog. A policy tick is
    * interrupted mid-compaction (the test seam folds a third batch of
    * screened-diverse synthetic signatures into the LIVE generation
    * after the rewrite, before the re-listing) → the tick REFUSES the
    * publish (message require-pinned) and the pointer never moves;
    * [[graft.sources.Generations.vacuum]] reclaims exactly the abandoned
    * generation; a quiet re-tick compacts everything INCLUDING the
    * mid-compaction fold's sigs (nothing lost — a replay of that batch
    * no-ops against the published store, require-pinned) and publishes;
    * the answer is the pairs store read through the pointer, unchanged by
    * the whole detour (the injected batch pairs with nothing), so the
    * oracle is q128's SQL BY REFERENCE.
    */
  def q169VacuumUnderPolicy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import graft.sources.Generations
    val hconf = s.sparkContext.hadoopConfiguration
    val root = seedSequenceCatalog(s, "q169cat", dir)
    // synthetic 8-frame signature sequences from a fixed seed: pairwise
    // far from every real dHash in the store (require-pinned below) —
    // the injection only needs to MOVE the sigs listing
    val rnd = new scala.util.Random(424217)
    val inject = (0 until 4).flatMap(i =>
      (0 until 8).map(f => (9000L + i, f, rnd.nextLong())))
      .toDF("media_id", "frame_idx", "vhash")
    // replayOnly: the post-publish idempotence check must NOT carry the
    // sink's epoch write — after compaction, `batch_id=2` IS the folded
    // subdir holding every closed pair, and a raw overwrite with the
    // replay's empty recompute would be exactly the durable-pairs loss
    // the sink's discipline (Streams.streamingSequenceDedup) refuses
    def foldInject(store: String, replayOnly: Boolean): DataFrame =
      Dedup.incrementalSequenceNearDups(inject, "media_id", "frame_idx",
        "vhash", store, maxHamming = 3, numBands = 4, minVoteFrac = 0.7,
        maxShift = 3,
        onPairs = out => {
          if (!replayOnly) {
            out.write.mode(org.apache.spark.sql.SaveMode.Overwrite)
              .parquet(s"$store/pairs/batch_id=2")
          }
          ()
        })
    val refusal = intercept(
      Dedup.maintainSequenceStore(s, root, committedBatchId = 1L,
        maxSigFiles = 1, targetFiles = 1,
        afterRewrite = () => {
          require(foldInject(Generations.resolve(root, hconf),
              replayOnly = false).isEmpty,
            "the injected batch must pair with nothing")
          ()
        }))
    require(refusal.getMessage.contains("mid-compaction"),
      s"the tripwire must refuse the publish, got: ${refusal.getMessage}")
    require(Generations.resolve(root, hconf).endsWith("gen-0"),
      "a refused publish never moves the pointer")
    // vacuum reclaims exactly the abandoned staged generation
    val reclaimed = Generations.vacuum(root, keep = 0, hconf)
    require(reclaimed == Seq("gen-1"),
      s"vacuum must reclaim the abandoned generation, got $reclaimed")
    // quiet re-tick: compacts sigs INCLUDING the injected fold, publishes
    val retick = Dedup.maintainSequenceStore(s, root, committedBatchId = 2L,
      maxSigFiles = 1, targetFiles = 1)
    require(retick.contains("gen-1"),
      s"the re-tick must publish into the reclaimed slot, got $retick")
    require(Dedup.maintainSequenceStore(s, root, committedBatchId = 2L,
        maxSigFiles = 1, targetFiles = 1).isEmpty,
      "the published generation reads healthy on the next tick")
    // nothing was lost to the detour: the mid-compaction fold's sigs are
    // in the published generation — its replay no-ops (content-keyed)
    require(foldInject(Generations.resolve(root, hconf),
        replayOnly = true).isEmpty &&
        s.read.parquet(s"${Generations.resolve(root, hconf)}/sigs")
          .where(col("id") >= 9000L).count() == 32L, // store-normalized cols
      "the mid-compaction fold must survive into the published generation")
    sequenceCatalogPairs(s, root)
  }

  /** Probe-local `intercept` (the probes run outside scalatest). */
  private def intercept(body: => Any): Throwable =
    try { body; sys.error("expected an exception, none was thrown") }
    catch { case e: IllegalArgumentException => e }

  /** All queries exposed to the driver contract. */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_pricing_summary" -> q01PricingSummary _,
    "q02_mktsegment_revenue" -> q02MktsegmentRevenue _,
    "q03_region_customers" -> q03RegionCustomers _,
    "q04_customer_orders_outer" -> q04CustomerOrdersOuter _,
    "q05_big_spenders_semi" -> q05BigSpendersSemi _,
    "q06_no_events_anti" -> q06NoEventsAnti _,
    "q07_events_range_join" -> q07EventsRangeJoin _,
    "q08_asof_purchase_view" -> q08AsofPurchaseView _,
    "q09_setops" -> q09SetOps _,
    "q10_rollup_region_nation" -> q10RollupRegionNation _,
    "q11_top_orders_per_customer" -> q11TopOrdersPerCustomer _,
    "q12_clean_text" -> q12CleanText _,
    "q13_fixed_chunker" -> q13FixedChunker _,
    "q14_paragraph_chunks" -> q14ParagraphChunks _,
    "q15_cosine_topk" -> q15CosineTopK _,
    "q16_inner_product_label" -> q16InnerProductLabel _,
    "q17_running_sum" -> q17RunningSum _,
    "q18_hourly_tumbling" -> q18HourlyTumbling _,
    "q19_json_extract" -> q19JsonExtract _,
    "q20_exact_dup_triples" -> q20ExactDupTriples _,
    "q21_minhash_neardup" -> q21MinhashNearDup _,
    "q22_simhash" -> q22Simhash _,
    "q23_jaccard_pairs" -> q23JaccardPairs _,
    "q24_embedding_neardup" -> q24EmbeddingNearDup _,
    "q25_langid" -> q25LangId _,
    "q26_event_type_sets" -> q26EventTypeSets _,
    "q27_token_counts" -> q27TokenCounts _,
    "q28_fingerprint" -> q28Fingerprint _,
    "q29_centroids" -> q29Centroids _,
    "q30_ivf_ann" -> q30IvfAnn _,
    "q31_math_funcs" -> q31MathFuncs _,
    "q32_quality_score" -> q32QualityScore _,
    "q33_strings" -> q33Strings _,
    "q34_sessions" -> q34Sessions _,
    "q35_exact_dedup_keepmin" -> q35ExactDedupKeepMin _,
    "q36_lag_lead" -> q36LagLead _,
    "q37_cube" -> q37Cube _,
    "q38_ntile" -> q38Ntile _,
    "q39_dates" -> q39Dates _,
    "q40_index_pipeline" -> q40IndexPipeline _,
    "q41_search_text" -> q41SearchText _,
    "q42_sentence_chunks" -> q42SentenceChunks _,
    "q43_lsh_ann" -> q43LshAnn _,
    "q44_centroid_typed" -> q44CentroidTyped _,
    "q45_multimodal" -> q45Multimodal _,
    "q46_salted_join" -> q46SaltedJoin _,
    "q47_tfidf" -> q47Tfidf _,
    "q48_neardup_clusters" -> q48NeardupClusters _,
    "q49_winnowing" -> q49Winnowing _,
    "q50_streaming" -> q50Streaming _,
    "q51_file_ingest" -> q51FileIngest _,
    "q52_pivot" -> q52Pivot _,
    "q53_grouping_sets" -> q53GroupingSets _,
    "q54_unpivot" -> q54Unpivot _,
    "q55_full_outer" -> q55FullOuter _,
    "q56_predicates" -> q56Predicates _,
    "q57_date_arith" -> q57DateArith _,
    "q58_relational_index" -> q58RelationalIndex _,
    "q59_sentence_split" -> q59SentenceSplit _,
    "q60_pii_redaction" -> q60PiiRedaction _,
    "q61_hash_sample" -> q61HashSample _,
    "q62_token_budget" -> q62TokenBudget _,
    "q63_interval_join" -> q63IntervalJoin _,
    "q64_quantiles" -> q64Quantiles _,
    "q65_asof_forward" -> q65AsofForward _,
    "q66_gopher_rules" -> q66GopherRules _,
    "q67_drop_neardups" -> q67DropNearDups _,
    "q68_stratified_sample" -> q68StratifiedSample _,
    "q69_topk_per_query" -> q69TopKPerQuery _,
    "q70_sliding_windows" -> q70SlidingWindows _,
    "q71_contamination" -> q71Contamination _,
    "q72_bm25" -> q72Bm25 _,
    "q73_pack_sequences" -> q73PackSequences _,
    "q74_hybrid_fusion" -> q74HybridFusion _,
    "q75_quantized_cosine" -> q75QuantizedCosine _,
    "q76_materialize_packs" -> q76MaterializePacks _,
    "q77_lm_quality" -> q77LmQuality _,
    "q78_url_filter" -> q78UrlFilter _,
    "q79_rebalance" -> q79Rebalance _,
    "q80_html_extract" -> q80HtmlExtract _,
    "q81_audio_decode" -> q81AudioDecode _,
    "q82_line_dedup" -> q82LineDedup _,
    "q83_boilerplate_strip" -> q83BoilerplateStrip _,
    "q84_ngram_repetition" -> q84NgramRepetition _,
    "q85_duplicate_spans" -> q85DuplicateSpans _,
    "q86_dsir_weights" -> q86DsirWeights _,
    "q87_semantic_dedup" -> q87SemanticDedup _,
    "q88_curation_funnel" -> q88CurationFunnel _,
    "q89_nfc_normalize" -> q89NfcNormalize _,
    "q90_correlated_scalar" -> q90CorrelatedScalar _,
    "q91_exists_subquery" -> q91ExistsSubquery _,
    "q92_binary_hamming" -> q92BinaryHamming _,
    "q93_matryoshka_funnel" -> q93MatryoshkaFunnel _,
    "q94_temperature_mix" -> q94TemperatureMix _,
    "q95_inverted_index" -> q95InvertedIndex _,
    "q96_scalar_anti" -> q96ScalarAnti _,
    "q97_bm25_from_index" -> q97Bm25FromIndex _,
    "q98_zorder_key" -> q98ZOrderKey _,
    "q99_mmr_rerank" -> q99MmrRerank _,
    "q100_snapshot_delta" -> q100SnapshotDelta _,
    "q101_split_assign" -> q101SplitAssign _,
    "q102_video_decode" -> q102VideoDecode _,
    "q103_char_entropy" -> q103CharEntropy _,
    "q104_skew_stats" -> q104SkewStats _,
    "q105_canonical_url" -> q105CanonicalUrl _,
    "q106_exact_k_sample" -> q106ExactKSample _,
    "q107_robust_outliers" -> q107RobustOutliers _,
    "q108_profile" -> q108Profile _,
    "q109_funnel" -> q109Funnel _,
    "q110_retention" -> q110Retention _,
    "q111_histogram" -> q111Histogram _,
    "q112_seeded_lsh" -> q112SeededLsh _,
    "q113_shuffle_order" -> q113ShuffleOrder _,
    "q114_heavy_hitters" -> q114HeavyHitters _,
    "q115_binned_range_join" -> q115BinnedRangeJoin _,
    "q116_jaccard_join" -> q116JaccardJoin _,
    "q117_weighted_sample" -> q117WeightedSample _,
    "q118_overlap_join" -> q118OverlapJoin _,
    "q119_lsh_index_pairs" -> q119LshIndexPairs _,
    "q120_compacted_hh" -> q120CompactedHeavyHitters _,
    "q121_leakage_splits" -> q121LeakageSplits _,
    "q122_image_dedup" -> q122ImageDedup _,
    "q123_audio_dedup" -> q123AudioDedup _,
    "q124_video_dedup" -> q124VideoDedup _,
    "q125_video_sequence_dedup" -> q125VideoSequenceDedup _,
    "q126_video_shifted_dedup" -> q126VideoShiftedDedup _,
    "q127_audio_shifted_dedup" -> q127AudioShiftedDedup _,
    "q128_incremental_sequence_dedup" -> q128IncrementalSequenceDedup _,
    "q129_perceptual_contamination" -> q129PerceptualContamination _,
    "q130_pq_adc" -> q130PqAdc _,
    "q131_cropped_image_dedup" -> q131CroppedImageDedup _,
    "q132_flipped_image_dedup" -> q132FlippedImageDedup _,
    "q133_video_speed_dedup" -> q133VideoSpeedDedup _,
    "q134_profile_columns" -> q134ProfileColumns _,
    "q135_frequent_values" -> q135FrequentValues _,
    "q136_thumbnail_image_dedup" -> q136ThumbnailImageDedup _,
    "q137_audio_resample_dedup" -> q137AudioResampleDedup _,
    "q138_profile_by_group" -> q138ProfileByGroup _,
    "q139_profile_diff" -> q139ProfileDiff _,
    "q140_bloom_pruned_join" -> q140BloomPrunedJoin _,
    "q141_incremental_profile" -> q141IncrementalProfile _,
    "q142_quantile_card" -> q142QuantileCard _,
    "q143_duplicate_keys" -> q143DuplicateKeys _,
    "q144_group_quantiles" -> q144GroupQuantiles _,
    "q145_dangling_keys" -> q145DanglingKeys _,
    "q146_cluster_balanced_sample" -> q146ClusterBalancedSample _,
    "q147_watermark_drops" -> q147WatermarkDrops _,
    "q148_ivf_pq" -> q148IvfPq _,
    "q149_incremental_update" -> q149IncrementalUpdate _,
    "q150_session_drain" -> q150SessionDrain _,
    "q151_ivf_pq_residual" -> q151IvfPqResidual _,
    "q152_index_pipeline_768" -> q152IndexPipeline768 _,
    "q153_scanned_ocr" -> q153ScannedOcr _,
    "q154_soft_dedup_weights" -> q154SoftDedupWeights _,
    "q155_soft_dedup_weighted_sample" -> q155SoftDedupWeightedSample _,
    "q156_incremental_soft_dedup_weights" -> q156IncrementalSoftDedupWeights _,
    "q157_streaming_soft_dedup_weights" -> q157StreamingSoftDedupWeights _,
    "q158_ivfpq_refresh" -> q158IvfPqRefresh _,
    "q159_weighted_token_rebalance" -> q159WeightedTokenRebalance _,
    "q160_curation_pipeline" -> q160CurationPipeline _,
    "q161_bm25_compacted" -> q161Bm25Compacted _,
    "q162_catalog_lifecycle" -> q162CatalogLifecycle _,
    "q163_text_policy_lifecycle" -> q163TextPolicyLifecycle _,
    "q164_vector_policy_lifecycle" -> q164VectorPolicyLifecycle _,
    "q165_weights_policy_lifecycle" -> q165WeightsPolicyLifecycle _,
    "q166_sketch_policy_lifecycle" -> q166SketchPolicyLifecycle _,
    "q167_sequence_policy_lifecycle" -> q167SequencePolicyLifecycle _,
    "q168_maintain_all_sweep" -> q168MaintainAllSweep _,
    "q169_vacuum_under_policy" -> q169VacuumUnderPolicy _,
  )
}
