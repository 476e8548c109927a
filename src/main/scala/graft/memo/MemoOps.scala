package graft.memo

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType}

import graft.filter.FilterAlgebra
import graft.functions.GraftFunctions._

/** Core memo-engine operators, re-expressed Spark-first.
  *
  * Reference semantics (/root/reference/memo_cli.py):
  *  - recall = full scored ranking + post-filter + top-k (:288-298, :489-521)
  *  - analyze = filter → count/project/stats with pagination (:636-693)
  *  - mutations: dense-id append (:434-440), compaction + re-sequencing
  *    (:334-366)
  *
  * The reference ranks the ENTIRE index per query (search k = ntotal,
  * memo_cli.py:291), so exact brute-force scoring is semantically faithful —
  * and SKILL.md:244-249 sanctions pushing the metadata predicate below the
  * scoring, which is exactly what Catalyst does when the filter sits on the
  * scan. At cluster scale: the corpus stays partitioned, the query vector is
  * broadcast, and top-k compiles to TakeOrderedAndProject (per-partition
  * heaps + single driver merge — no global sort shuffle).
  */
object MemoOps {
  val DefaultK = 2
  val MaxK = 100
  val ScoreFloor = -0.9

  /** Clamp k to [1, MaxK] (memo_cli.py:798-802). */
  def clampK(k: Int): Int = math.max(1, math.min(MaxK, k))

  /** Recall: score every record against the query vector, apply the
    * metadata filter (if any), the score floor, and the blank-body skip,
    * then take top-k of the survivors (filter BEFORE limit — V4).
    *
    * `records` needs (id, body, metadata, embedding).
    */
  def recall(
      records: DataFrame,
      queryVec: Column,
      k: Int,
      filterExpr: Option[String] = None): DataFrame = {
    val kk = clampK(k)
    val scored = records
      .withColumn("raw_score", vecCosine(col("embedding"), queryVec))
    val withFilter = filterExpr match {
      case Some(f) => scored.filter(FilterAlgebra.compile(f, col("metadata")))
      case None => scored
    }
    withFilter
      .filter(col("raw_score") >= ScoreFloor && !isBlank(col("body")))
      .withColumn("score", round(col("raw_score"), 4))
      .orderBy(desc("score"), col("id"))
      .limit(kk)
      .select(col("id"), col("score"), col("body"))
  }

  /** [[recall]]'s BATCH twin: the same contract per query — metadata
    * filter, RAW-score floor, blank-body skip, HALF_UP 4-decimal round,
    * (score desc, id asc) ties — over a (query_id, qv) frame in ONE
    * pass: the corpus survivors cross the broadcast query batch (a
    * Q-bounded nested loop, the brute shape), and the bounded-heap
    * [[graft.functions.TopKAggregator]] keeps k rows per query per
    * partition before the only shuffle. Returns (query_id, id, score),
    * top-k SET per query, unordered (order downstream). */
  def recallBatch(
      records: DataFrame,
      queries: DataFrame,
      k: Int,
      filterExpr: Option[String] = None): DataFrame = {
    val kk = clampK(k)
    val withFilter = filterExpr match {
      case Some(f) =>
        records.filter(FilterAlgebra.compile(f, col("metadata")))
      case None => records
    }
    graft.functions.TopKAgg.perQuery(
      withFilter
        .filter(!isBlank(col("body")))
        .select(col("id"), col("embedding"))
        .crossJoin(broadcast(queries.select(col("query_id"), col("qv"))))
        .withColumn("raw_score", vecCosine(col("embedding"), col("qv")))
        .filter(col("raw_score") >= ScoreFloor)
        .withColumn("score", round(col("raw_score"), 4)),
      "query_id", col("id").cast("long"), col("score"), kk, outId = "id")
  }

  /** Analyze match count (A1/A2): records without metadata never match. */
  def analyzeCount(records: DataFrame, filterExpr: String): DataFrame =
    records.filter(FilterAlgebra.compile(filterExpr, col("metadata")))
      .agg(count(lit(1)).as("matched"))

  /** Analyze projection (A3/A5): fields are `id`, `metadata`, or
    * (possibly dotted) metadata keys; deterministic id order + pagination. */
  def analyzeProject(
      records: DataFrame,
      filterExpr: String,
      fields: Seq[String],
      limit: Int = 100,
      offset: Int = 0): DataFrame = {
    require(limit >= 1, "limit must be >= 1")
    require(offset >= 0, "offset must be >= 0")
    val matched =
      records.filter(FilterAlgebra.compile(filterExpr, col("metadata")))
    val cols = fields.map {
      case "id" => col("id")
      case "metadata" => flowMetadata(col("metadata")).as("metadata")
      // alias keeps the EXACT field text — the reference prints the field
      // as typed (headers show "metadata.source", memo_cli.py:691); a
      // dotted alias is a plain column NAME here, nothing resolves it
      case key => metaDisplay(FilterAlgebra.resolveField(col("metadata"), key))
        .as(key)
    }
    matched.orderBy(col("id")).offset(offset).limit(limit).select(cols: _*)
  }

  /** format_cell rendering of the WHOLE metadata map: YAML flow
    * (memo_cli.py:552-557 dumps dict/list values flow-style). */
  def flowMetadata(metadata: Column): Column = {
    val parts = transform(map_entries(metadata), e =>
      concat(metaYamlScalar(e.getField("key")), lit(": "),
        metaFlowYaml(e.getField("value"))))
    concat(lit("{"), array_join(parts, ", "), lit("}"))
  }

  /** Default analyze fields (A4): id + first 3 metadata keys sorted. */
  def defaultFields(records: DataFrame, filterExpr: String): Seq[String] = {
    val matched =
      records.filter(FilterAlgebra.compile(filterExpr, col("metadata")))
    val keys = matched.select(explode(map_keys(col("metadata"))).as("k"))
      .distinct().orderBy(col("k")).limit(3)
      .collect().map(_.getString(0)).toSeq
    "id" +: keys
  }

  /** Typed raw value of an analyze/stats field, as the reference's
    * resolve_field_value (memo_cli.py:543-549): "id" → the record id (an
    * int), "metadata" → the whole mapping (map values are already typed
    * encodings, so to_json IS the m-payload), else a flat metadata lookup
    * (leading `metadata.` stripped). */
  def rawField(key: String): Column = key match {
    case "id" => concat(lit("i"), col("id").cast("string"))
    case "metadata" =>
      when(col("metadata").isNotNull, concat(lit("m"), to_json(col("metadata"))))
    case k => FilterAlgebra.resolveField(col("metadata"), k)
  }

  /** Non-missing values of a stats key: reference print_stats collects
    * `value is not None` — explicit YAML nulls ("z") count as missing
    * (memo_cli.py:582-586) — then counts format_cell renderings. */
  private def statsValues(records: DataFrame, filterExpr: String, key: String): DataFrame =
    records.filter(FilterAlgebra.compile(filterExpr, col("metadata")))
      .select(rawField(key).as("raw"))
      .filter(col("raw").isNotNull && col("raw") =!= "z")

  /** Stats: top-4 values + "other" rollup (A8, memo_cli.py:592-597). */
  def statsTopK(records: DataFrame, filterExpr: String, key: String,
      topN: Int = 4): DataFrame = {
    val counts = statsValues(records, filterExpr, key)
      .select(metaDisplay(col("raw")).as("value"))
      .groupBy(col("value")).agg(count(lit(1)).as("cnt"))
    val top = counts.orderBy(desc("cnt"), col("value")).limit(topN)
    val other = counts.join(top.select(col("value")), Seq("value"), "left_anti")
      .agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt").isNotNull)
      .select(lit("other").as("value"), col("cnt"))
    top.unionByName(other).orderBy(desc("cnt"), col("value"))
  }

  /** Reference numeric coercion for stats (memo_cli.py:601-609):
    * Python numbers (int/float/bool) directly, else `float(str(value))` —
    * so a string-typed "42" IS numeric for stats (unlike the filter
    * algebra's typed compare); containers/None never are. */
  def statsNumericValue(raw: Column): Column =
    coalesce(metaNum(raw),
      when(raw.startsWith("s"),
        raw.substr(lit(2), length(raw)).try_cast(DoubleType)))

  /** Stats: numeric min/max/avg (A9). */
  def statsNumeric(records: DataFrame, filterExpr: String, key: String): DataFrame =
    statsValues(records, filterExpr, key)
      .select(statsNumericValue(col("raw")).as("v")).filter(col("v").isNotNull)
      .agg(round2(min(col("v"))).as("vmin"),
        round2(max(col("v"))).as("vmax"),
        round2(avg(col("v"))).as("vavg"))

  /** ISO-parseable timestamp of a stats value; reference parse_iso_datetime
    * only accepts strings (memo_cli.py:700-712). */
  def statsDateValue(raw: Column): Column =
    try_to_timestamp(when(raw.startsWith("s"),
      regexp_replace(raw.substr(lit(2), length(raw)), "Z$", "+00:00")))

  /** Stats: ISO date range (A10) — min/max as yyyy-MM-dd strings. */
  def statsDates(records: DataFrame, filterExpr: String, key: String): DataFrame =
    statsValues(records, filterExpr, key)
      .select(statsDateValue(col("raw")).as("v")).filter(col("v").isNotNull)
      .agg(date_format(min(col("v")), "yyyy-MM-dd").as("dmin"),
        date_format(max(col("v")), "yyyy-MM-dd").as("dmax"))

  /** Stats: distinct-value cardinality of a key (A7) — distinct
    * format_cell renderings, missing/None excluded (memo_cli.py:588-590). */
  def cardinality(records: DataFrame, filterExpr: String, key: String): DataFrame =
    statsValues(records, filterExpr, key)
      .agg(countDistinct(metaDisplay(col("raw"))).as("n_distinct"))

  /** Assign contiguous sequential ids `start, start+1, ...` in
    * `orderCols` order — the ONE id-minting primitive (reindex's
    * re-sequencing, the bulk save's file-order mint, the stream's
    * body-order mint). Scale path: range-repartition + per-partition
    * sort + zipWithIndex — no single-partition window, works at any row
    * count. `parts` fixes the range width (the stream sizes it from the
    * batch's bytes); None takes `spark.sql.shuffle.partitions`.
    * (Dense-id invariant: memo_cli.py:102-108, :435.) The zip rides
    * INTERNAL rows (`toRdd` → `internalCreateDataFrame`): the external
    * `.rdd` twin decoded every body string and metadata map to external
    * objects and re-validated them through `createDataFrame`, per row —
    * pure per-task overhead (guide §1.2 step 2). `copy()` before
    * retaining: toRdd rows are reused buffers. The id column is appended
    * last. */
  def withSequentialIds(
      df: DataFrame,
      orderCols: Seq[String],
      idName: String,
      start: Long,
      parts: Option[Int]): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
    import org.apache.spark.sql.graftshim.GraftShims
    val spark = df.sparkSession
    val order = orderCols.map(col)
    val ranged = parts match {
      case Some(n) => df.repartitionByRange(n, order: _*)
      case None => df.repartitionByRange(order: _*)
    }
    val sorted = ranged.sortWithinPartitions(order: _*)
    val schema = sorted.schema.add(idName, LongType, nullable = false)
    val rdd = GraftShims.toInternalRdd(sorted).zipWithIndex()
      .map { case (r, i) =>
        new JoinedRow(r.copy(),
          new GenericInternalRow(Array[Any](start + i)))
          : org.apache.spark.sql.catalyst.InternalRow
      }
    GraftShims.internalCreateDataFrame(spark, rdd, schema)
  }

  /** Reference is_deleted_record (memo_cli.py:145-154): metadata `deleted`
    * Python-truthy (1, "yes", even "false" — any non-empty string), OR the
    * body YAML-parses to a mapping with a truthy `deleted`. */
  def isDeleted(metadata: Column, body: Column): Column =
    coalesce(metaTruthy(element_at(metadata, "deleted")), lit(false)) ||
      coalesce(bodyDeleted(body), lit(false))

  /** Compaction (M4, memo_cli.py:334-366): drop deleted/blank rows and
    * re-sequence ids densely 0..n-1 in old-id order. */
  def reindex(records: DataFrame): DataFrame = {
    val kept = records.filter(
      !isDeleted(col("metadata"), col("body")) && !isBlank(col("body")))
    withSequentialIds(kept, Seq("id"), "new_id", 0L, None)
      .withColumnRenamed("id", "old_id")
      .withColumnRenamed("new_id", "id")
  }

  /** Append a batch with dense new ids = max(existing)+1... (M1). */
  def appendIds(existing: DataFrame, batch: DataFrame, orderCol: String): DataFrame = {
    val maxId = existing.agg(max(col("id"))).collect()(0) match {
      case r if r.isNullAt(0) => -1L
      case r => r.getLong(0)
    }
    withSequentialIds(batch, Seq(orderCol), "new_id", maxId + 1, None)
  }

  /** Overwrite-by-id validation (M2, memo_cli.py:424-433): every override id
    * must already exist, else the whole batch aborts. Returns merged df. */
  def overwrite(existing: DataFrame, replacements: DataFrame): DataFrame = {
    val missing = replacements.select(col("id"))
      .join(existing.select(col("id")), Seq("id"), "left_anti")
      .limit(1).collect()
    if (missing.nonEmpty) {
      throw new IllegalArgumentException(
        s"Cannot overwrite non-existent ID ${missing(0).getLong(0)}")
    }
    existing.join(replacements.select(col("id")), Seq("id"), "left_anti")
      .unionByName(replacements)
  }

  /** Row-level diff of two record tables keyed by id: one row per id whose
    * state differs, `change` ∈ added | removed | updated, carrying the
    * `to`-side body/metadata (the `from` side for removed rows). One
    * full-outer hash join on id — O(both sides), never a driver
    * materialization. Metadata maps compare by sorted-entry canonical
    * form, so map entry ORDER never fabricates an "updated" row. This is
    * the classification arm of [[MemoEngine.changesBetween]]'s changefeed;
    * the engine skips it entirely across pure-append windows (manifest
    * fast path — delta segments only, no join). */
  def changeFeed(from: DataFrame, to: DataFrame): DataFrame =
    changeFeedWithPrev(from, to)
      .select(col("id"), col("change"), col("body"), col("metadata"))

  /** [[changeFeed]] plus the FROM-side row state as `prev_body` /
    * `prev_metadata` (null for added rows; for removed rows they repeat
    * the `body`/`metadata` columns, which already carry the from side).
    * The prev columns are what makes a downstream consumer RETRACTABLE —
    * an incremental aggregate ([[MemoEngine.viewState]]) subtracts the
    * old row's contribution and adds the new one without re-reading the
    * base snapshot. [[MemoEngine.patchMerge]] persists this extended
    * shape (the old rows are already in hand there, so prev costs
    * nothing); readers that only need the public feed project the extra
    * columns away by reading with the narrower schema. */
  def changeFeedWithPrev(from: DataFrame, to: DataFrame): DataFrame = {
    val canonMeta = (c: Column) => to_json(array_sort(map_entries(c)))
    val f = from.select(col("id"),
      col("body").as("_f_body"), col("metadata").as("_f_meta"))
    val t = to.select(col("id"),
      col("body").as("_t_body"), col("metadata").as("_t_meta"))
    f.join(t, Seq("id"), "full_outer")
      .withColumn("change",
        when(col("_f_body").isNull, "added")
          .when(col("_t_body").isNull, "removed")
          .when(col("_f_body") =!= col("_t_body") ||
            !(canonMeta(col("_f_meta")) <=> canonMeta(col("_t_meta"))),
            "updated"))
      .filter(col("change").isNotNull)
      .select(col("id"), col("change"),
        coalesce(col("_t_body"), col("_f_body")).as("body"),
        when(col("_t_body").isNull, col("_f_meta"))
          .otherwise(col("_t_meta")).as("metadata"),
        col("_f_body").as("prev_body"), col("_f_meta").as("prev_metadata"))
  }
}
