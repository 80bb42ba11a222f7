package graft.pit

import graft.FeatureView
import org.apache.spark.sql.{DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.catalyst.expressions.KnownNotNull
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{ArrayType, DataType, DateType, StructField, StructType}
import scala.jdk.CollectionConverters._

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
  * One physical strategy, not the reference's (range join → row_number →
  * join back): the **sort-merge kernel** ([[enrichMergeFused]]). It unions
  * the feature rows of every view sharing the join keys with the probe
  * rows, sorts once per key on (ts, side, created, tiebreaks), and runs one
  * window pass of a running `last(payload_i, ignoreNulls)` per view — each
  * probe row reads each view's latest qualifying feature row directly. No
  * join, no pair blow-up, no aggregation, no join-back (probe rows carry
  * their entity columns through the window): cost is a single shuffle +
  * sort of |features| + |probes| rows regardless of TTL width or view
  * count. The created-ts *filter* mode stays on this path: a feature row is
  * visible to a probe iff `event_ts >= greatest(ts, created_ts)`, so
  * ordering the merge stream by that visibility time and keeping a running
  * `max_by(payload, (ts, created, tiebreaks))` (instead of `last`) yields
  * the exact filtered winner with the same single sort. A keyless view is
  * the one-key case.
  *
  * Hot keys split by time inside the same kernel. The window partitions by
  * `(keys, __chunk)`: `__chunk` is 0 for a cold key and a time chunk of the
  * merge axis for a hot key. Each chunk is seeded with one carried row that
  * holds, per view, the winner of all of that key's earlier chunks (a
  * per-chunk `max_by` over (ts, created, tiebreaks), then a running `max_by`
  * across chunks). Its axis time lies in an earlier chunk, so it sorts
  * before everything in its chunk; an empty chunk still passes the winners
  * on, and TTL still qualifies each winner after the window. Rows older
  * than every probe reach the window only through the carry. A key is hot when its
  * merge rows (counted over a sample) are estimated above Spark's
  * `spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes`, and gets
  * about one chunk per `spark.sql.adaptive.advisoryPartitionSizeInBytes`,
  * bounded at equal-count ranks of its sampled `__t` from the same
  * aggregate: one detection action per key group, no second pass (nothing
  * is split when `spark.sql.adaptive.skewJoin.enabled` is off). A key
  * group whose plan-estimated input is below the threshold can hold no hot
  * key: it runs no job and plans exactly as the unsplit kernel. This is the
  * one hot-key rule: checks of the split at small sizes lower these
  * settings, they force no mode.
  *
  * Scale levers:
  *   - scan bounds [min(event_ts) − ttl, max(event_ts)] derived from the
  *     entity frame are pushed into the source scan (reference
  *     offline_utils.py:168-189), plus derived date-partition predicates
  *   - only (keys, ts, created, features) survive into the shuffle — wide
  *     columns like `text` never shuffle unless they are requested features
  */
object PointInTimeJoin {

  /** How [[enrichMergeFused]] splits keys into time chunks: retrievals use
    * [[Chunking.Auto]]; [[Chunking.EveryKey]] is the fully chunked shape of
    * the bench and the leakage audit.
    */
  private[graft] sealed trait Chunking
  private[graft] object Chunking {
    /** Hot keys from the data and Spark's skew settings (see object doc). */
    case object Auto extends Chunking
    /** Every key, split into the same `chunks` equal-width slices of the
      * entity frame's event-ts range; runs no job. */
    case class EveryKey(chunks: Int) extends Chunking
  }

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
      filterByCreatedTs: Boolean = false
  ): DataFrame =
    enrichMergeFused(entityDf, Seq(view), entityTsCol, fullFeatureNames, filterByCreatedTs)

  /** One entity-frame (min, max) event-ts scan, shared across views of a
    * retrieval (reference computes it once per job too,
    * offline_utils.py:168-189; spark.py:1499-1535).
    */
  def entityBounds(entityDf: DataFrame, entityTsCol: String): Row =
    entityDf.agg(min(col(entityTsCol)).as("mn"), max(col(entityTsCol)).as("mx")).head()

  /** Shared source prep: field mapping (P1), early projection, scan bounds
    * from the entity range `bounds` (P4/P5), date-partition predicates (P6).
    */
  private def prepare(view: FeatureView, bounds: Row): DataFrame = {
    val keys = view.joinKeys
    val feats = view.resolvedFeatures
    val neededCols =
      (keys :+ view.tsCol) ++ view.createdTsCol.toSeq ++ feats ++
        view.tieBreakCols ++ view.datePartitionCol.toSeq
    var src = view.mappedSource.select(neededCols.distinct.map(col): _*)
    // SQL join semantics for NULL keys: a null-key source row matches no
    // probe (NULL = NULL is never true in the reference's join template),
    // so drop it here — otherwise the window partitioning would group null
    // keys together and attach features the reference never would. A
    // null-key PROBE row still flows through and comes back with null
    // features (left-join semantics). Also a free scan predicate.
    if (keys.nonEmpty)
      src = src.filter(keys.map(col(_).isNotNull).reduce(_ && _))

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

  /** One view's columns in the merge stream (`__payload_i` is its payload
    * struct) and its ords: the flat sort keys (created, tiebreaks) that
    * break ts ties for the sorted stream's `last`, or in created-filter
    * mode (`byMaxBy`) the one (ts, created, tiebreaks) struct its running
    * `max_by` reads, which stays out of the window's ORDER BY.
    */
  private case class ViewCols(view: FeatureView, ords: Seq[String], byMaxBy: Boolean)

  /** The merge stream of a key group: every view's feature rows (`__p` 0)
    * and the probe rows (`__p` 1) on one axis `__t`, keyed by the views'
    * shared join keys; `bounds` is the entity (mn, mx) row. Each side
    * selects only its own columns and the union pads the rest with typed
    * nulls. See [[enrichMergeFused]].
    */
  private def mergeStream(
      entityDf: DataFrame, views: Seq[FeatureView], entityTsCol: String,
      filterByCreatedTs: Boolean, bounds: Row
  ): (DataFrame, Seq[ViewCols]) = {
    val keys = views.head.joinKeys
    require(views.forall(_.joinKeys == keys),
      "fused merge requires identical join keys across views")
    val entityTsType = entityDf.schema(entityTsCol).dataType
    val etsType = mergeAxisType(entityTsType, views.head)
    require(views.forall(v => mergeAxisType(entityTsType, v) == etsType),
      "fused merge of a Date entity timestamp requires one feature-ts type " +
        "across views; merge views with differing ts types separately")
    val minTs = lit("1900-01-01 00:00:00").cast("timestamp")

    // A created-filtered view merges on the visibility time
    // greatest(ts, created) and orders its running max_by by one struct,
    // null (union padding) on every other view's rows and on probes, so
    // max_by skips them
    val (fSides, infos) = views.zipWithIndex.map { case (v, i) =>
      val createdFilter = filterByCreatedTs && v.createdTsCol.nonEmpty
      // created-filter mode hides rows with NULL created_ts (SQL semantics
      // of the reference's `created <= entity_ts` join predicate,
      // spark.py:1799; dask's NaT compare masks them too) — without this,
      // greatest() would skip the null and leave the row visible
      val src0 = prepare(v, bounds)
      val src =
        if (createdFilter) src0.filter(col(v.createdTsCol.get).isNotNull) else src0
      val ts = col(v.tsCol).cast(etsType)
      val payload = struct((v.resolvedFeatures.map(col) :+ ts.as("__fts")): _*)
      val tieOrds = v.createdTsCol.map(c => coalesce(col(c), minTs)).toSeq ++
        v.tieBreakCols.map(col)
      val (visTime, ords) =
        if (createdFilter)
          (greatest(col(v.tsCol), col(v.createdTsCol.get)).cast(etsType),
            Seq(struct((ts +: tieOrds).zipWithIndex.map { case (e, k) => e.as(s"__o$k") }: _*)))
        else (ts, tieOrds)
      val names = ords.indices.map(k => s"__ord_${i}_$k")
      (src.select(keys.map(col) ++ Seq(visTime.as("__t"), lit(0).as("__p"),
          payload.as(s"__payload_$i")) ++ ords.zip(names).map { case (e, n) => e.as(n) }: _*),
        ViewCols(v, names, createdFilter))
    }.unzip

    // every entity column, as one struct on the probe side
    val entity = struct(entityDf.columns.toSeq.map(c => col(quote(c)).as(c)): _*)
    val pSide = entityDf.select(keys.map(col) ++ Seq(
      col(quote(entityTsCol)).cast(etsType).as("__t"), lit(1).as("__p"), entity.as("__ent")): _*)
    ((fSides :+ pSide).reduce(_.unionByName(_, allowMissingColumns = true)), infos)
  }

  /** The sort-merge as-of kernel (see object doc): N views sharing the
    * SAME join keys enrich the entity frame through ONE union → ONE
    * shuffle/sort → ONE window pass; a single view is the N = 1 case and a
    * keyless view the one-key case.
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
    * (ts, created, tiebreaks))` under the same sort — linear at TTL = 0. The
    * view's one ord is that struct, and it stays out of the sort.
    *
    * No join-back: probe rows carry every entity column in one `__ent`
    * struct through the exchange and the sort.
    * Duplicate probes are adjacent and read the same running winner, so the
    * window output already is the result, multiplicity kept.
    *
    * Hot keys split into time chunks seeded by [[withCarry]] (object doc).
    *
    * Time axis ([[mergeAxisType]]): a DateType entity ts promotes to the
    * views' (shared) feature-ts type — casting feature times down to dates
    * would leak same-day future rows; otherwise the entity type wins (e.g.
    * tz vs ntz normalization).
    */
  def enrichMergeFused(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      precomputedBounds: Option[Row] = None,
      chunking: Chunking = Chunking.Auto
  ): DataFrame = {
    val keys = views.head.joinKeys
    val entity = precomputedBounds.getOrElse(entityBounds(entityDf, entityTsCol))
    val (unioned, infos) = mergeStream(entityDf, views, entityTsCol, filterByCreatedTs, entity)
    val (stream, part) = split(unioned, keys, chunking, entity) match {
      case (_, Seq()) => (unioned, keys)
      case (by, bounds) =>
        (withCarry(chunked(unioned, by, bounds), keys, infos, entity.get(0)), keys :+ "__chunk")
    }
    val w = Window.partitionBy(part.map(col): _*)
      .orderBy((Seq(col("__t").asc, col("__p").asc) ++
        infos.filterNot(_.byMaxBy).flatMap(_.ords).map(col(_).asc_nulls_first)): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    // per-view running winner: the sorted-stream `last` normally; a running
    // max_by over the view's own (ts, created, tiebreaks) struct in
    // created-filter mode, where the stream is visibility-ordered rather
    // than winner-ordered (other views' rows and probes carry a null ord
    // and are skipped). TTL qualifies each winner against the probe's
    // (axis-typed) event ts.
    val bests = infos.zipWithIndex.map { case (inf, i) =>
      val payload = col(s"__payload_$i")
      val best =
        if (inf.byMaxBy) max_by(payload, col(inf.ords.head))
        else last(payload, ignoreNulls = true)
      s"__best_$i" -> best.over(w)
    }
    val filled = stream.withColumns(bests.toMap).filter(col("__p") === 1)
    val featCols = infos.zipWithIndex.flatMap { case (inf, i) =>
      val best = col(s"__best_$i")
      val qualified =
        if (inf.view.ttlSeconds > 0)
          when(best("__fts") >=
            col("__t") - expr(s"INTERVAL ${inf.view.ttlSeconds} SECONDS"), best)
        else best
      inf.view.resolvedFeatures.map(f => qualified(f).as(outName(inf.view, f, fullFeatureNames)))
    }
    // the entity frame as it came in, then features per view; a probe row
    // always carries its struct, so entity columns keep their nullability
    val ent = GraftColumnBridge.column(KnownNotNull(GraftColumnBridge.expression(col("__ent"))))
    filled.select(entityDf.columns.toSeq.map(c => ent.getField(c).as(c)) ++ featCols: _*)
  }

  /** The keys the kernel splits for this retrieval and their chunk bounds,
    * as rows `(split-by columns…, __bounds)` (see [[split]]); empty when it
    * splits nothing. Runs the detection job the kernel would run.
    */
  private[graft] def splitKeys(
      entityDf: DataFrame, views: Seq[FeatureView], chunking: Chunking = Chunking.Auto): Seq[Row] = {
    val entity = entityBounds(entityDf, "event_ts")
    val (stream, _) = mergeStream(entityDf, views, "event_ts", false, entity)
    split(stream, views.head.joinKeys, chunking, entity)._2
  }

  /** Which keys of a merge stream to split, and where: the split-by columns
    * (the join keys, or none to split every key alike) and one row
    * `(split-by values…, __bounds)` per split key, `__bounds` its chunk
    * start times on the merge axis. The first is the entity min, so rows
    * before every probe form chunk −1. [[Chunking.Auto]] puts a hot key's
    * others at equal-count ranks of its sampled `__t` from there on, which
    * its detection aggregate collects; [[Chunking.EveryKey]] slices the
    * entity range into equal widths and runs no job. The kernel's result
    * does not depend on the bounds.
    */
  private def split(stream: DataFrame, keys: Seq[String], chunking: Chunking,
      entity: Row): (Seq[String], Seq[Row]) = {
    val axis = stream.schema("__t").dataType
    val from = lit(entity.get(0)).cast(axis)
    val (by, bounds): (Seq[String], Option[DataFrame]) =
      if (entity.isNullAt(0)) (keys, None) else chunking match {
        case Chunking.Auto =>
          val conf = SQLConf.get
          val threshold = conf.getConf(SQLConf.SKEW_JOIN_SKEWED_PARTITION_THRESHOLD)
          val chunkBytes = math.max(1L, conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES))
          // an input estimated below the threshold holds no key above it; the
          // analyzed plan's statistics run no job and no second optimizer pass
          if (!conf.getConf(SQLConf.SKEW_JOIN_ENABLED) ||
            stream.queryExecution.analyzed.stats.sizeInBytes < threshold) (keys, None)
          else {
            // a hot key (minRows or more) shows in a ~1000/minRows sample
            // with ~1000 rows, so the count runs over the sample; a
            // near-threshold miss only costs speed
            val rowBytes = math.max(1L, stream.schema.defaultSize.toLong)
            val minRows = math.max(1L, threshold / rowBytes)
            val p = math.min(1.0, 1000.0 / minRows)
            val (ts, sampled) = (col("__ts"), if (p < 1) stream.sample(p, 0L) else stream)
            val c = greatest(lit(2), ceil(size(ts) / p * rowBytes / chunkBytes).cast("int"))
            (keys, Some(sampled.groupBy(keys.map(col): _*).agg(count(lit(1)).as("__n"),
                sort_array(collect_list(when(col("__t") >= from, col("__t")))).as("__ts"))
              .filter(col("__n") >= minRows * p)
              .select(keys.map(col) :+ array_compact(array_distinct(concat(array(from),
                transform(sequence(lit(1), c - 1), j => get(ts, (j * size(ts) / c).cast("int"))))))
                .as("__bounds"): _*)))
          }
        case Chunking.EveryKey(chunks) => // folded on the driver: no job
          // a date plus an interval comes back as a timestamp, hence the cast
          val (to, c) = (lit(entity.get(1)).cast(axis), math.max(1, chunks))
          (Nil, Some(stream.sparkSession.createDataFrame(Seq(Row()).asJava, new StructType())
            .select(array_distinct(transform(sequence(lit(0), lit(c - 1)),
              j => (from + (to - from) / c * j).cast(axis))).as("__bounds"))))
      }
    (by, bounds.toSeq.flatMap(_.collect()))
  }

  /** Tag every merge row with its `__chunk`: its key's chunk bounds at or
    * before its `__t`, less one (0 for a key that is not split and for a
    * probe with no time), so rows at one `__t` share a chunk and chunks
    * follow the axis.
    */
  private def chunked(stream: DataFrame, by: Seq[String], bounds: Seq[Row]): DataFrame = {
    val schema = StructType(by.map(stream.schema(_)))
      .add(StructField("__bounds", ArrayType(stream.schema("__t").dataType)))
    val b = broadcast(stream.sparkSession.createDataFrame(bounds.asJava, schema))
    val tagged = if (by.isEmpty) stream.crossJoin(b) else stream.join(b, by, "left")
    tagged.withColumn("__chunk",
      when(col("__bounds").isNull || col("__t").isNull, lit(0))
        .otherwise(size(filter(col("__bounds"), t => t <= col("__t"))) - 1))
      .drop("__bounds")
  }

  /** Seed each `(key, __chunk)` with one carried feature row that holds
    * every view's winner over all of the key's earlier chunks: its payload
    * and ords, padded by the union like any feature row. Its `__t` is the
    * greatest of the winners' `__t`s, each in an earlier chunk, so it sorts
    * before every row of its chunk. The winner order is the kernel's:
    * (ts, ords) — `__t` is the ts outside created-filter mode — or the
    * view's created-filter order struct. Chunk −1 (`__t` < `from`, tested
    * first: no second chunk count) holds no probe and only feeds the carry.
    */
  private def withCarry(
      stream: DataFrame, keys: Seq[String], infos: Seq[ViewCols], from: Any): DataFrame = {
    val part = keys :+ "__chunk"
    val winners = infos.zipWithIndex.map { case (inf, i) =>
      val payload = col(s"__payload_$i")
      val order =
        if (inf.byMaxBy) col(inf.ords.head)
        else when(payload.isNotNull, struct((col("__t") +: inf.ords.map(col)): _*))
      val row = struct((Seq("__t", s"__payload_$i") ++ inf.ords).map(col): _*)
      max_by(struct(order.as("o"), row.as("r")), order).as(s"__w_$i")
    }
    val perChunk = stream.groupBy(part.map(col): _*).agg(winners.head, winners.tail: _*)
    val earlier = Window.partitionBy(keys.map(col): _*).orderBy(col("__chunk"))
      .rangeBetween(Window.unboundedPreceding, -1)
    val carried = perChunk.select(part.map(col) ++ infos.indices.map(i =>
      max_by(col(s"__w_$i.r"), col(s"__w_$i.o")).over(earlier).as(s"__c_$i")): _*)
    val seeds = carried.select(part.map(col) ++ Seq(
        infos.indices.map(i => col(s"__c_$i.__t")).reduce(greatest(_, _)).as("__t"),
        lit(0).as("__p")) ++
      infos.zipWithIndex.flatMap { case (inf, i) =>
        (s"__payload_$i" +: inf.ords).map(c => col(s"__c_$i.$c").as(c))
      }: _*).filter(col("__t").isNotNull)
    val inWindow = col("__t") >= lit(from).cast(stream.schema("__t").dataType) || col("__chunk") >= 0
    stream.filter(inWindow).unionByName(seeds, allowMissingColumns = true)
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

  private[graft] def outName(view: FeatureView, feat: String, full: Boolean): String =
    if (full) s"${view.name}__$feat" else feat

  /** A column name as an identifier: dots and backticks stay literal. */
  private[graft] def quote(c: String): String = "`" + c.replace("`", "``") + "`"
}
