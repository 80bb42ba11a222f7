package graft.engine

import graft.{FeatureService, FeatureView, OnDemandView}
import graft.pit.PointInTimeJoin
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** get_historical_features orchestration (reference: sdk/python/feast/
  * feature_store.py:1942-2142 + the rendered multi-view template
  * spark.py:1709-1887): enrich the entity frame with each view's
  * point-in-time features, preserving entity rows/columns and output
  * order = entity cols, then features per view (offline_utils.py:
  * 210-234). Views are merged one join-key group at a time, not one view
  * at a time.
  */
object Historical {

  /** @param fullFeatureNames prefix features `view__feature`
    *        (utils.py:562 collision rule; dask.py:1062-1070)
    * @param transform optional ODFV-style post-retrieval row-level transform
    *        (on_demand_feature_view.py:1023 applied post-join)
    * @param onDemand declared [[graft.OnDemandView]]s applied after assembly
    *        with input isolation + request-column validation ([[OnDemand]]);
    *        request columns are checked against the entity frame BEFORE any
    *        retrieval work runs (utils.py:532-555)
    */
  def getHistoricalFeatures(
      entityDf: DataFrame,
      views: Seq[FeatureView],
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      transform: Option[DataFrame => DataFrame] = None,
      startDate: Option[java.sql.Timestamp] = None,
      endDate: Option[java.sql.Timestamp] = None,
      onDemand: Seq[OnDemandView] = Nil
  ): DataFrame = {
    require(views.nonEmpty, "at least one feature view required")
    OnDemand.requireRequestData(entityDf, onDemand)
    // Collision check mirroring utils.py:562: duplicate feature names across
    // views are an error unless fullFeatureNames is on.
    if (!fullFeatureNames) {
      val names = views.flatMap(_.resolvedFeatures)
      val dups = names.diff(names.distinct).distinct
      require(dups.isEmpty,
        s"duplicate feature names across views: ${dups.mkString(",")}; use fullFeatureNames")
    }
    // P4: optional start/end bounds on every source scan (reference
    // get_historical_features(start_date, end_date), feature_store.py:1942;
    // filter sql offline_utils.py:344-433) — pushed to the parquet/Iceberg
    // scan by Catalyst.
    val bounded =
      if (startDate.isEmpty && endDate.isEmpty) views
      else views.map { v =>
        // tsCol names a post-fieldMapping column — filter the mapped frame
        var src = v.mappedSource
        startDate.foreach(s => src = src.filter(col(v.tsCol) >= lit(s)))
        endDate.foreach(e => src = src.filter(col(v.tsCol) <= lit(e)))
        v.copy(source = src, fieldMapping = Map.empty)
      }
    // A8: one entity-range (min, max) action shared by every view — an
    // N-view retrieval must not rescan the entity frame N times
    // (reference computes the range once per job, offline_utils.py:168-189)
    val bounds = Some(PointInTimeJoin.entityBounds(entityDf, entityTsCol))
    // One as-of pass per join-key group: views sharing join keys (and, for
    // a Date entity ts, the feature-ts type it promotes to) fuse into ONE
    // union → shuffle → sort → window pass (enrichMergeFused), created-ts
    // filter mode included. Groups chain — each probes the previous
    // group's output, whose entity columns ride through the window — so a
    // retrieval costs one shuffle per key group and no join-back. Keyless
    // views are one more key group (the one-key case).
    val entityTsType = entityDf.schema(entityTsCol).dataType
    def groupKey(v: FeatureView) =
      (v.joinKeys, PointInTimeJoin.mergeAxisType(entityTsType, v))
    val groups = bounded.foldLeft(Vector.empty[Vector[FeatureView]]) { (gs, v) =>
      val i = gs.indexWhere(g => groupKey(g.head) == groupKey(v))
      if (i < 0) gs :+ Vector(v) else gs.updated(i, gs(i) :+ v)
    }
    val chained = groups.foldLeft(entityDf) { (acc, g) =>
      PointInTimeJoin.enrichMergeFused(acc, g, entityTsCol, fullFeatureNames,
        filterByCreatedTs, bounds)
    }
    // grouping moves a later view's features up next to its group's first
    // view; restore entity cols, then features in view order
    val out =
      if (groups.flatten == bounded) chained
      else chained.select((entityDf.columns.toSeq ++ bounded.flatMap(v =>
        v.resolvedFeatures.map(PointInTimeJoin.outName(v, _, fullFeatureNames))))
        .map(c => col(PointInTimeJoin.quote(c))): _*)
    val withOdfv = OnDemand.applyAll(out, onDemand, fullFeatureNames,
      knownPrefixes = Some(views.map(_.name).toSet))
    transform.map(_(withOdfv)).getOrElse(withOdfv)
  }

  /** Retrieval through a [[graft.FeatureService]]: each projection's
    * join-key map and feature subset are applied before the normal
    * multi-view path (reference feature_service.py:33; projection applied
    * at offline_utils.py:135-142).
    */
  def getHistoricalFeaturesService(
      entityDf: DataFrame,
      service: FeatureService,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false
  ): DataFrame =
    getHistoricalFeatures(entityDf, service.projections.map(_.resolved),
      entityTsCol, fullFeatureNames)

  /** J8 (DAG-path multi-view assembly, spark/nodes.py:399-460): join N
    * per-view feature frames on their shared join keys with left joins,
    * feature columns prefixed `view__`, then left-join the entity frame.
    * Unlike the sequential per-(entity,ts) path this composes *key-level*
    * feature tables (e.g. materialized latests), not PIT results.
    */
  def joinViewsOnKeys(
      entityDf: DataFrame,
      keyCols: Seq[String],
      viewFrames: Seq[(String, DataFrame)]
  ): DataFrame = {
    val prefixed = viewFrames.map { case (name, df) =>
      df.columns.foldLeft(df) { (acc, c) =>
        if (keyCols.contains(c)) acc else acc.withColumnRenamed(c, s"${name}__$c")
      }
    }
    // each view left-joins the ENTITY side independently — chaining the
    // view frames into each other (reference nodes.py:421 does
    // joined.join(next, how="left")) silently nulls a later view's
    // features for keys the first view lacks; the entity universe is the
    // only correct preserved side
    prefixed.foldLeft(entityDf)(_.join(_, keyCols, "left"))
  }

  /** Entity dataframe given as a SQL query string (reference
    * `get_historical_features(entity_df="SELECT ...")` — the Spark offline
    * store registers the query result as the entity table,
    * spark.py:1558-1574). Spark-first, the query IS a logical plan: no
    * upload/temp-table step — `spark.sql` analyzes it against the session
    * catalog (temp views, tables, catalogs) and the optimizer composes it
    * with the retrieval end-to-end, so entity-side filters still push down.
    */
  def getHistoricalFeaturesSql(
      spark: org.apache.spark.sql.SparkSession,
      entitySql: String,
      views: Seq[FeatureView],
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      filterByCreatedTs: Boolean = false,
      startDate: Option[java.sql.Timestamp] = None,
      endDate: Option[java.sql.Timestamp] = None,
      onDemand: Seq[OnDemandView] = Nil
  ): DataFrame = {
    val entityDf = spark.sql(entitySql)
    require(entityDf.columns.contains(entityTsCol),
      s"entity SQL must produce the entity timestamp column '$entityTsCol' " +
        s"(got: ${entityDf.columns.mkString(",")})")
    getHistoricalFeatures(entityDf, views, entityTsCol, fullFeatureNames,
      filterByCreatedTs, None, startDate, endDate, onDemand)
  }

  /** Typed entry point over the engine's core row types
    * (BASELINE.json:input_hint "typed Dataset/DataFrame + Catalyst"):
    * entity keys as `Dataset[EntityRow]`, transcript source as
    * `Dataset[Turn]`.
    */
  def getHistoricalFeaturesTyped(
      entities: org.apache.spark.sql.Dataset[graft.EntityRow],
      views: Seq[FeatureView],
      fullFeatureNames: Boolean = false
  ): DataFrame =
    getHistoricalFeatures(entities.toDF(), views,
      fullFeatureNames = fullFeatureNames)

  /** Non-entity retrieval mode (reference spark.py:1336-1387 W5): discover
    * the entity universe as UNION DISTINCT of each view's keys, stamp every
    * discovered key with `asOf`, then run the normal retrieval.
    */
  def nonEntityRetrieval(
      views: Seq[FeatureView],
      asOf: java.sql.Timestamp,
      entityTsCol: String = "event_ts",
      fullFeatureNames: Boolean = false,
      positionalKeys: Boolean = false
  ): DataFrame = {
    val keyCols = views.head.joinKeys
    // the universe unions every view's keys POSITIONALLY into keyCols —
    // meaningful only when all views share the same join keys; fail here
    // with the actual mismatch instead of misfiling another view's key
    // values (same-arity) or an opaque toDF error (different-arity).
    // `positionalKeys = true` declares that same-ARITY views' keys are the
    // same entity under different names (e.g. user_id vs uid) and restores
    // positional mapping into keyCols; the alternative is a fieldMapping
    // on the view renaming its key to the shared name. Different arity is
    // always a hard error — there is no sane positional meaning.
    views.foreach(v => require(
      if (positionalKeys) v.joinKeys.size == keyCols.size
      else v.joinKeys == keyCols,
      s"non-entity retrieval requires all views to share join keys: " +
        s"'${v.name}' has ${v.joinKeys.mkString(",")}, expected ${keyCols.mkString(",")}; " +
        "rename via fieldMapping, or pass positionalKeys = true for " +
        "same-arity keys that are declared equivalent"))
    // normalize every view onto the canonical key names — the union below
    // AND the retrieval join both need them (a positionally-mapped view's
    // own key name does not exist on the discovered universe)
    val normalized = views.map { v =>
      if (v.joinKeys == keyCols) v
      else {
        // All key renames apply SIMULTANEOUSLY (one aliased select), so
        // swapped or chained key names — target 'a' being another key the
        // rename is moving away — are fine; a sequential fold would
        // duplicate columns there. The only genuine collision is a target
        // landing on a NON-key column the view already has (a feature
        // named like the canonical key): that would silently duplicate it,
        // so fail here naming the collision instead.
        val fromKeys = v.joinKeys.toSet
        val keyMap = v.joinKeys.zip(keyCols).toMap
        keyMap.foreach { case (from, to) =>
          require(from == to || fromKeys.contains(to) ||
            !v.mappedSource.columns.contains(to),
            s"positional key mapping '$from' -> '$to' on view '${v.name}' " +
              s"collides with its existing column '$to'; rename that column " +
              "via fieldMapping first")
        }
        val src = v.mappedSource
        val renamed = src.select(src.columns.toIndexedSeq.map(c =>
          keyMap.get(c).map(t => col(c).as(t)).getOrElse(col(c))): _*)
        v.copy(source = renamed, joinKeys = keyCols, fieldMapping = Map.empty)
      }
    }
    val universe = normalized
      .map(v => v.mappedSource.select(v.joinKeys.map(k => col(k).cast("string")): _*)
        .toDF(keyCols: _*))
      .reduce(_ unionByName _)
      .distinct()
      // timestamp_ntz to match parquet-sourced naive timestamps end-to-end
      .withColumn(entityTsCol, lit(asOf).cast("timestamp_ntz"))
    getHistoricalFeatures(universe, normalized, entityTsCol, fullFeatureNames)
  }
}
