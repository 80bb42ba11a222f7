package graft.pit

import graft.FeatureView
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{DataType, DateType}

/** Point-in-time ("as-of") join: for each entity row (join keys, event_ts),
  * attach the feature values of the **latest** source row with
  * `feature_ts <= event_ts` (and `feature_ts >= event_ts - ttl` when a TTL is
  * set), tie-broken by `created_ts` descending with nulls losing.
  *
  * Semantics match the reference's SQL template
  * MULTIPLE_FEATURE_VIEW_POINT_IN_TIME_JOIN (reference: infra/offline_stores/
  * contrib/spark_offline_store/spark.py:1709-1887 — J1..J7 in SURVEY.md §2.3)
  * and the dask dataframe program (infra/offline_stores/dask.py:1093-1270).
  *
  * Two physical strategies, neither of which is the reference's
  * (range join → row_number → join back):
  *
  *  1. **Merge kernel** ([[enrichMergeFused]], the default and the only
  *     merge path): union the feature rows of every view sharing the join
  *     keys with the probe rows, one sort per key on (ts, side, created,
  *     tiebreaks), one window pass of a running `last(payload_i,
  *     ignoreNulls)` per view — each probe row reads each view's latest
  *     qualifying feature row directly. No join, no pair blow-up, no
  *     aggregation, no join-back (probe rows carry their entity columns
  *     through the window): cost is a single shuffle + sort of
  *     |features| + |probes| rows regardless of TTL width or view count.
  *     This is the classic sort-merge as-of algorithm expressed in pure
  *     Catalyst. The created-ts *filter* mode stays on this path: a feature
  *     row is visible to a probe iff `event_ts >= greatest(ts, created_ts)`,
  *     so ordering the merge stream by that visibility time and keeping a
  *     running `max_by(payload, (ts, created, tiebreaks))` (instead of
  *     `last`) yields the exact filtered winner with the same single
  *     sort — no join, no per-key pair blow-up at TTL = 0.
  *  2. **Join path** ([[enrichJoin]]): time-bucketed range inner join
  *     (bounded fan-out) → partial-aggregated max_by → left join back.
  *     Kept for hot-key salting (explicit replication) and keyless views.
  *
  * Shared scale levers (both paths):
  *   - scan bounds [min(event_ts) − ttl, max(event_ts)] derived from the
  *     entity frame are pushed into the source scan (reference
  *     offline_utils.py:168-189), plus derived date-partition predicates
  *   - only (keys, ts, created, features) survive into the shuffle — wide
  *     columns like `text` never shuffle unless they are requested features
  *   - join path: time-bucket equi-keys, optional hot-key salting
  *     (graft.skew.Salting), AQE skew join.
  */
object PointInTimeJoin {

  private val DefaultBroadcastRows = 4000000L

  /** Enrich `entityDf` with the features of `view` as of each row's
    * `entityTsCol`. Preserves every entity row and column; feature columns
    * are null where no source row qualifies.
    *
    * @param filterByCreatedTs also require created_ts <= event_ts (anti-leak
    *        for backfilled rows; reference template spark.py:1799-1801).
    *        Entity rows whose only candidates are too new keep null features
    *        rather than being dropped (dask.py:1203-1226).
    */
  def enrich(
      entityDf: DataFrame,
      view: FeatureView,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      saltBuckets: Int = 0,
      hotKeyRowThreshold: Long = 5000000L,
      precomputedBounds: Option[Row] = None
  ): DataFrame =
    if (saltBuckets > 1 || view.joinKeys.isEmpty)
      enrichJoin(entityDf, view, entityTsCol, fullFeatureNames,
        filterByCreatedTs, saltBuckets,
        hotKeyRowThreshold, precomputedBounds)
    else
      enrichMergeFused(entityDf, Seq(view), entityTsCol, fullFeatureNames,
        filterByCreatedTs, precomputedBounds)

  /** One entity-frame (min, max) event-ts scan, shared across views of a
    * retrieval (reference computes it once per job too,
    * offline_utils.py:168-189; spark.py:1499-1535).
    */
  def entityBounds(entityDf: DataFrame, entityTsCol: String): Row =
    entityDf.agg(min(col(entityTsCol)).as("mn"), max(col(entityTsCol)).as("mx")).head()

  /** Shared source prep: field mapping (P1), early projection, scan bounds
    * from the entity range (P4/P5), date-partition predicates (P6).
    */
  private def prepare(
      entityDf: DataFrame, view: FeatureView, entityTsCol: String,
      precomputedBounds: Option[Row]
  ): DataFrame = {
    val keys = view.joinKeys
    val feats = view.resolvedFeatures
    val neededCols =
      (keys :+ view.tsCol) ++ view.createdTsCol.toSeq ++ feats ++
        view.tieBreakCols ++ view.datePartitionCol.toSeq
    var src = view.mappedSource.select(neededCols.distinct.map(col): _*)
    // SQL join semantics for NULL keys, on BOTH physical strategies: a
    // null-key source row matches no probe (NULL = NULL is never true in
    // the reference's join template), so drop it here — otherwise the
    // merge path's window partitioning would group null keys together and
    // attach features the join path (and the reference) never would. A
    // null-key PROBE row still flows through and comes back with null
    // features (left-join semantics). Also a free scan predicate.
    if (keys.nonEmpty)
      src = src.filter(keys.map(col(_).isNotNull).reduce(_ && _))

    val bounds: Row = precomputedBounds.getOrElse(entityBounds(entityDf, entityTsCol))
    val lowerTs =
      if (view.ttlSeconds > 0 && !bounds.isNullAt(0))
        Some(lit(bounds.get(0)) - expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
      else None
    if (!bounds.isNullAt(1))
      src = src.filter(col(view.tsCol) <= lit(bounds.get(1)))
    lowerTs.foreach(lo => src = src.filter(col(view.tsCol) >= lo))
    view.datePartitionCol.foreach { dpc =>
      // the pruning below compares partition STRINGS — chronological only
      // for year-first, most-significant-first formats; "MM-dd-yyyy" would
      // silently prune QUALIFYING partitions (December sorts above January
      // of the next year), returning null features with no error
      val sig = "yMdHms"
      // strip single-quoted literal sections first (a literal like
      // 'month' contains pattern letters that are NOT fields — e.g.
      // yyyy-'month'-MM is a valid most-significant-first format whose
      // literal 'm' would otherwise spuriously fail the order check);
      // '' (escaped quote) matches the same regex and drops harmlessly
      val fieldsOnly = view.datePartitionFormat.replaceAll("'[^']*'", "")
      val order = fieldsOnly.filter(sig.contains(_)).distinct
      require(order.nonEmpty && order.head == 'y' &&
        sig.filter(order.contains(_)) == order,
        s"datePartitionFormat '${view.datePartitionFormat}' is not " +
          "most-significant-first (year, month, day, …); lexicographic " +
          "partition pruning would silently drop qualifying partitions")
      if (!bounds.isNullAt(1))
        src = src.filter(
          col(dpc) <= date_format(lit(bounds.get(1)), view.datePartitionFormat))
      lowerTs.foreach(lo =>
        src = src.filter(col(dpc) >= date_format(lo, view.datePartitionFormat)))
    }
    src
  }

  /** The sort-merge as-of kernel (see object doc, strategy 1): N views
    * sharing the SAME join keys enrich the entity frame through ONE union →
    * ONE shuffle/sort → ONE window pass; a single view is the N = 1 case.
    *
    * Per-key order: (visibility ts, side [features before probes at equal
    * ts — `<=` semantics], view-0 ords…, view-N ords… nulls-first [null
    * created loses]), ords being created then tiebreaks. Each view's
    * payload struct (columns travel atomically: a null feature value must
    * NOT fall through to an older row) and ords are null on every other
    * view's rows and on probes, so view i's running `last(__payload_i,
    * ignoreNulls)` at a probe row is exactly its max_by(ts, created,
    * tiebreaks) winner. TTL then qualifies that winner, per view — anything
    * older is further below the window's lower bound.
    *
    * Created-ts filter mode (reference template spark.py:1799-1801 / dask
    * masking dask.py:1203-1226): a view's merge axis becomes the visibility
    * time `greatest(ts, created_ts)`, so `__t <= event_ts` is exactly
    * `ts <= event_ts AND created_ts <= event_ts`; that stream is not in
    * winner order, so the running `last` becomes a running `max_by(payload,
    * (ts, created, tiebreaks))` under the same sort — linear at TTL = 0.
    *
    * No join-back: probe rows carry every entity column in one `__ent`
    * struct through the exchange and the sort.
    * Duplicate probes are adjacent and read the same running winner, so the
    * window output already is the result, multiplicity kept.
    *
    * Time axis ([[mergeAxisType]]): a DateType entity ts promotes to the
    * views' (shared) feature-ts type — casting feature times down to dates
    * would leak same-day future rows, and the join path promotes too;
    * otherwise the entity type wins (e.g. tz vs ntz normalization).
    */
  def enrichMergeFused(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      precomputedBounds: Option[Row] = None
  ): DataFrame = {
    val keys = views.head.joinKeys
    require(keys.nonEmpty && views.forall(_.joinKeys == keys),
      "fused merge requires identical non-empty join keys across views")
    val entityTsType = entityDf.schema(entityTsCol).dataType
    val etsType = mergeAxisType(entityTsType, views.head)
    require(views.forall(v => mergeAxisType(entityTsType, v) == etsType),
      "fused merge of a Date entity timestamp requires one feature-ts type " +
        "across views; merge views with differing ts types separately")
    val bounds = precomputedBounds.getOrElse(entityBounds(entityDf, entityTsCol))
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")
    def typeOf(df: DataFrame, e: Column): DataType = df.select(e.as("x")).schema("x").dataType

    // per-view column descriptors: payload struct + (ord name, expr, type).
    // A created-filtered view additionally carries (a) a visibility merge
    // axis greatest(ts, created) and (b) an order STRUCT for its running
    // max_by — null on every other view's rows and on probes, so max_by
    // skips them.
    case class ViewCols(
        view: FeatureView, src: DataFrame, feats: Seq[String],
        visTime: Column, payload: Column, payloadType: DataType,
        ordStruct: Option[(String, Column, DataType)],
        ords: Seq[(String, Column, DataType)])
    val infos = views.zipWithIndex.map { case (v, i) =>
      val createdFilter = filterByCreatedTs && v.createdTsCol.nonEmpty
      // created-filter mode hides rows with NULL created_ts (SQL semantics
      // of the reference's `created <= entity_ts` join predicate,
      // spark.py:1799; dask's NaT compare masks them too) — without this,
      // greatest() would skip the null and leave the row visible, diverging
      // from the join path (PropertySpec pins the equivalence)
      val src0 = prepare(entityDf, v, entityTsCol, Some(bounds))
      val src =
        if (createdFilter) src0.filter(col(v.createdTsCol.get).isNotNull) else src0
      val feats = v.resolvedFeatures
      val payload = struct((feats.map(col) :+
        col(v.tsCol).cast(etsType).as("__fts")): _*)
      val visTime =
        if (createdFilter)
          greatest(col(v.tsCol), col(v.createdTsCol.get)).cast(etsType)
        else col(v.tsCol).cast(etsType)
      val ords = (v.createdTsCol.map(c => coalesce(col(c), minTs)).toSeq ++
        v.tieBreakCols.map(col)).zipWithIndex.map { case (e, k) =>
          (s"__ord_${i}_$k", e, typeOf(src, e))
        }
      // winner order of the created-filter max_by: (ts, ords…)
      val ordStruct =
        if (!createdFilter) None
        else {
          val e = struct((col(v.tsCol).cast(etsType) +: ords.map(_._2))
            .zipWithIndex.map { case (e, k) => e.as(s"__o$k") }: _*)
          Some((s"__mord_$i", e, typeOf(src, e)))
        }
      ViewCols(v, src, feats, visTime, payload, typeOf(src, payload), ordStruct, ords)
    }
    val owned = infos.zipWithIndex.flatMap { case (inf, i) =>
      (inf.ords ++ inf.ordStruct).map { case (name, e, dt) => (name, i, e, dt) }
    }

    // every entity column, as one struct on the probe side
    val entity = struct(entityDf.columns.toSeq.map(c => col(quote(c)).as(c)): _*)
    val entityType = typeOf(entityDf, entity)

    def sideSelect(df: DataFrame, head: Seq[Column], ownerIdx: Int): DataFrame =
      df.select(
        keys.map(col) ++ head ++
          infos.zipWithIndex.map { case (inf, j) =>
            if (j == ownerIdx) inf.payload.as(s"__payload_$j")
            else lit(null).cast(inf.payloadType).as(s"__payload_$j")
          } ++
          owned.map { case (name, owner, e, dt) =>
            if (owner == ownerIdx) e.as(name) else lit(null).cast(dt).as(name)
          }: _*)

    val fSides = infos.zipWithIndex.map { case (inf, i) =>
      sideSelect(inf.src, Seq(inf.visTime.as("__t"), lit(0).as("__p"),
        lit(null).cast(entityType).as("__ent")), i)
    }
    val pSide = sideSelect(entityDf, Seq(
      col(quote(entityTsCol)).cast(etsType).as("__t"), lit(1).as("__p"),
      entity.as("__ent")), ownerIdx = -1)

    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy((Seq(col("__t").asc, col("__p").asc) ++
        infos.flatMap(_.ords).map { case (name, _, _) => col(name).asc_nulls_first }): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    val unioned = (fSides :+ pSide).reduce(_ unionByName _)
    // per-view running winner: the sorted-stream `last` normally; a running
    // max_by over the view's own (ts, created, tiebreaks) struct in
    // created-filter mode, where the stream is visibility-ordered rather
    // than winner-ordered (other views' rows and probes carry a null ord
    // and are skipped). TTL qualifies each winner against the probe's
    // (axis-typed) event ts.
    val bests = infos.zipWithIndex.map { case (inf, i) =>
      val best = inf.ordStruct match {
        case Some((name, _, _)) => max_by(col(s"__payload_$i"), col(name)).over(w)
        case None => last(col(s"__payload_$i"), ignoreNulls = true).over(w)
      }
      s"__best_$i" -> best
    }
    val filled = unioned.withColumns(bests.toMap).filter(col("__p") === 1)
    val featCols = infos.zipWithIndex.flatMap { case (inf, i) =>
      val best = col(s"__best_$i")
      val qualified =
        if (inf.view.ttlSeconds > 0)
          when(best("__fts") >=
            col("__t") - expr(s"INTERVAL ${inf.view.ttlSeconds} SECONDS"), best)
        else best
      inf.feats.map(f => qualified(f).as(outName(inf.view, f, fullFeatureNames)))
    }
    // the entity frame as it came in, then features per view; a probe row
    // always carries its struct, so entity columns keep their nullability
    val ent = GraftColumnBridge.column(KnownNotNull(GraftColumnBridge.expression(col("__ent"))))
    filled.select(entityDf.columns.toSeq.map(c => ent.getField(c).as(c)) ++ featCols: _*)
  }

  /** The merge kernel's time-axis type for `view` against an entity ts of
    * type `entityTsType`: the entity type, except that a DateType entity ts
    * promotes to the view's feature-ts type (see [[enrichMergeFused]]).
    */
  private[graft] def mergeAxisType(entityTsType: DataType, view: FeatureView): DataType =
    entityTsType match {
      case DateType => view.mappedSource.schema(view.tsCol).dataType
      case t => t
    }

  /** The bucketed range-join path (see object doc, strategy 2). */
  def enrichJoin(
      entityDf: DataFrame,
      view: FeatureView,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      saltBuckets: Int = 0,
      hotKeyRowThreshold: Long = 5000000L,
      precomputedBounds: Option[Row] = None
  ): DataFrame = {
    val keys = view.joinKeys
    val feats = view.resolvedFeatures
    val src = prepare(entityDf, view, entityTsCol, precomputedBounds)
    // J2: deduplicated probe side — one row per (keys, event_ts).
    val probeRaw = entityDf.select((keys :+ entityTsCol).map(col): _*)
      .dropDuplicates(keys :+ entityTsCol)

    // Hot-conversation salting (north rule; graft.skew.Salting): split keys
    // with > hotKeyRowThreshold source rows into saltBuckets sub-keys. The
    // feature side spreads by xxhash64(ts); the probe side replicates per
    // salt. The groupBy below re-merges across salts (max_by is
    // order-associative), so results are byte-identical to the unsalted
    // plan — SaltingSpec asserts this.
    val saltKeys = if (saltBuckets > 1 && keys.nonEmpty) Seq("__salt") else Nil
    val (srcS, probeS) =
      if (saltKeys.nonEmpty) {
        val hot = graft.skew.Salting.detectHotKeys(
          src.select(keys.map(col): _*), keys, hotKeyRowThreshold, saltBuckets)
        (graft.skew.Salting.saltLarge(src, hot, keys, col(view.tsCol)),
          graft.skew.Salting.saltSmall(probeRaw, hot, keys))
      } else (src, probeRaw)

    // Bounded-fan-out range join (the classic time-bucketing rewrite — OSS
    // Spark has no range-join optimization): with a TTL, add a coarse
    // time-bucket equi-key — feature rows at floor(ts/ttl), probe rows
    // exploded over the 2 buckets covering [event_ts − ttl, event_ts].
    // SMJ/HashJoin then pairs only rows within 2·ttl of each other instead
    // of EVERY (turn, probe) pair of a conversation. Theta conditions below
    // keep the semantics exact.
    val bucketKeys = if (view.ttlSeconds > 0) Seq("__tb") else Nil
    val bucketUs = view.ttlSeconds * 1000000L
    val (srcB, probeB) =
      if (bucketKeys.nonEmpty) {
        (srcS.withColumn("__tb",
          floor(unix_micros(col(view.tsCol).cast("timestamp")) / bucketUs)),
          probeS.withColumn("__tb",
            explode(sequence(
              floor((unix_micros(col(entityTsCol).cast("timestamp")) - bucketUs) / bucketUs),
              floor(unix_micros(col(entityTsCol).cast("timestamp")) / bucketUs)))))
      } else (srcS, probeS)

    val probe =
      if (saltKeys.isEmpty && bucketKeys.isEmpty &&
        shouldBroadcast(entityDf))
        broadcast(probeB)
      else probeB

    // J3: equi+theta range join. The theta condition seeds the fold — a
    // keyless view with no TTL has no equi keys at all and must still
    // plan (an empty .reduce would throw).
    val fts = col("__src." + view.tsCol)
    val ets = col("__probe." + entityTsCol)
    var cond: Column = (keys ++ saltKeys ++ bucketKeys)
      .map(k => col("__src." + k) === col("__probe." + k))
      .foldLeft(fts <= ets)(_ && _)
    if (view.ttlSeconds > 0)
      cond = cond && (fts >= ets - expr(s"INTERVAL ${view.ttlSeconds} SECONDS"))
    view.createdTsCol.foreach { c =>
      if (filterByCreatedTs) cond = cond && (col("__src." + c) <= ets)
    }
    val joined = srcB.alias("__src").join(probe.alias("__probe"), cond, "inner")

    // J4+J5+J6 fused: latest-row selection as a single partial-aggregable
    // max_by instead of row_number + join-back. Ordering: (ts desc, created
    // desc nulls-last, tiebreaks desc) — nulls must LOSE ties, matching
    // dask's na_position="first", keep="last" (dask.py:1240-1268), hence the
    // coalesce to -infinity.
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")
    val ordCols: Seq[Column] =
      fts +:
        (view.createdTsCol.map(c => coalesce(col("__src." + c), minTs)).toSeq ++
          view.tieBreakCols.map(c => col("__src." + c)))
    val ord = struct(ordCols: _*)
    val payload = struct(feats.map(f => col("__src." + f).as(f)): _*)
    val latest = joined
      .groupBy((keys.map(k => col("__probe." + k)) :+ ets): _*)
      .agg(max_by(payload, ord).as("__best"))
      .select(
        keys.map(col) ++ Seq(col(entityTsCol)) ++
          feats.map(f => col("__best." + f).as(outName(view, f, fullFeatureNames))): _*)

    // J7: final assembly — every entity row and column survives.
    entityDf.join(latest, keys :+ entityTsCol, "left")
  }

  private[graft] def outName(view: FeatureView, feat: String, full: Boolean): String =
    if (full) s"${view.name}__$feat" else feat

  /** A column name as an identifier: dots and backticks stay literal. */
  private[graft] def quote(c: String): String = "`" + c.replace("`", "``") + "`"

  private def shouldBroadcast(df: DataFrame): Boolean = {
    // Cheap static heuristic: auto-broadcast only when the plan's row-count
    // estimate is known and small; otherwise the join still benefits from
    // AQE's runtime broadcast.
    try {
      val stats = df.queryExecution.optimizedPlan.stats
      stats.rowCount.exists(_ <= BigInt(DefaultBroadcastRows)) ||
      stats.sizeInBytes <= 64L * 1024 * 1024
    } catch { case _: Throwable => false }
  }
}
