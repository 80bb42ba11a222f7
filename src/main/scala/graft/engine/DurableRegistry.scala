package graft.engine

import graft.{FeatureService, FeatureView, JsonCodec, OnDemandView, Projection}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

/** Serializable definition forms for the durable registry: a registration
  * survives the session because the *source is a descriptor* (format + path
  * + options + optional SQL transform), not a live DataFrame, and an ODFV
  * transform is a list of named SQL expressions, not a closure.
  *
  * Reference analog: feast persists applied definitions through a file/SQL
  * registry (sdk/python/feast/infra/registry/registry.py, file.py) written
  * by `FeatureStore.apply` (feature_store.py:1556), so later jobs retrieve
  * by name without re-declaring views in code. The reference pickles Python
  * transforms; the Spark-first equivalent is SQL-mode expressions — they
  * serialize as text and run as Catalyst-compiled columns on load, so the
  * durable path loses no performance vs the in-memory registry.
  */

/** Where a view's rows come from: `spark.read.format(format).options(...)
  * .load(path)`, optionally through a Spark-SQL transform whose FROM
  * references the loaded frame as `__src` (the U4 SQL-transformation mode,
  * reference transformation/spark_transformation.py:11-120).
  */
case class SourceSpec(
    format: String,
    path: String,
    options: Map[String, String] = Map.empty,
    transformSql: Option[String] = None
) {
  def resolve(spark: SparkSession): DataFrame = {
    val raw = spark.read.format(format).options(options).load(path)
    transformSql match {
      case None => raw
      case Some(sql) =>
        // spark.sql analyzes eagerly, binding the current `__src` plan into
        // the returned frame — later re-registrations of `__src` (the next
        // view's resolve) cannot retroactively change it, and the temp view
        // is dropped right after analysis so nothing leaks into the session.
        // `__src` is a RESERVED name bound session-globally for the span of
        // the analysis, so resolves serialize under a JVM lock — without it
        // two concurrent resolves could bind each other's source between
        // register and analyze and silently build a view over wrong data.
        SourceSpec.resolveLock.synchronized {
          raw.createOrReplaceTempView("__src")
          try spark.sql(sql)
          finally { spark.catalog.dropTempView("__src"); () }
        }
    }
  }
}

object SourceSpec {
  private[engine] val resolveLock = new Object
}

/** [[graft.FeatureView]] with the source as a [[SourceSpec]]. */
case class ViewSpec(
    name: String,
    source: SourceSpec,
    joinKeys: Seq[String],
    tsCol: String,
    createdTsCol: Option[String] = None,
    ttlSeconds: Long = 0L,
    features: Seq[String] = Nil,
    fieldMapping: Map[String, String] = Map.empty,
    tieBreakCols: Seq[String] = Nil,
    datePartitionCol: Option[String] = None,
    datePartitionFormat: String = "yyyy-MM-dd"
) {
  def toView(spark: SparkSession): FeatureView =
    FeatureView(name, source.resolve(spark), joinKeys, tsCol, createdTsCol,
      ttlSeconds, features, fieldMapping, tieBreakCols, datePartitionCol,
      datePartitionFormat)
}

/** One appended ODFV output column: `name` = Spark SQL expression over the
  * declared inputs/request columns.
  */
case class OutputExpr(name: String, sql: String)

/** [[graft.OnDemandView]] with the transform as SQL expressions. */
case class OdfvSpec(
    name: String,
    inputs: Seq[String],
    outputs: Seq[OutputExpr],
    requestCols: Seq[String] = Nil,
    sourceRefs: Seq[String] = Nil
) {
  def toView: OnDemandView =
    OnDemandView(name, inputs, requestCols, outputs.map(_.name), sourceRefs,
      transform = df =>
        outputs.foldLeft(df)((d, o) => d.withColumn(o.name, expr(o.sql))))
}

/** [[graft.Projection]] binding a service entry to a view by name. */
case class ProjectionSpec(
    viewName: String,
    features: Seq[String] = Nil,
    joinKeyMap: Map[String, String] = Map.empty,
    nameAlias: Option[String] = None
)

case class ServiceSpec(name: String, projections: Seq[ProjectionSpec])

/** Durable named entity (reference entity.py:30 — Entity carries name,
  * join_key, value_type, description and is a first-class registry object
  * applied via registry.py `apply_entity`): the declared identity a view's
  * join keys bind to. Registration is metadata — views keep declaring their
  * `joinKeys` directly (back-compatible), but a registered entity lets
  * tooling resolve "which column identifies a conversation" by name and
  * validates that services join on declared identities.
  */
case class EntitySpec(
    name: String,
    joinKey: String,
    valueType: String = "string",
    description: String = ""
)

/** Durable record of a persisted retrieval (reference saved_dataset.py:78 —
  * SavedDataset tracks name, features, join keys, storage, full-feature-name
  * mode; registered by registry.py `apply_saved_dataset`): where the data
  * lives plus what it contains. `profilePath` points at the stats profile
  * written by [[graft.stats.DatasetProfile.saveWithProfile]], which makes
  * the record usable as a validation reference.
  */
case class SavedDatasetSpec(
    name: String,
    path: String,
    features: Seq[String] = Nil,
    joinKeys: Seq[String] = Nil,
    fullFeatureNames: Boolean = false,
    profilePath: Option[String] = None
)

/** Durable validation reference (reference saved_dataset.py:259
  * `as_reference(profiler)` + registry.py `apply_validation_reference`):
  * validate a candidate frame against the named saved dataset's stored
  * profile with the recorded tolerance.
  */
case class ValidationSpec(
    name: String,
    savedDatasetName: String,
    columns: Seq[String] = Nil,
    relTol: Double = 0.1,
    exact: Boolean = false
)

/** The serialized registry: ordered definition lists (registration order is
  * meaningful for deterministic resolution, so lists, not maps).
  */
case class RegistryFile(
    version: Int = 1,
    views: Seq[ViewSpec] = Nil,
    odfvs: Seq[OdfvSpec] = Nil,
    services: Seq[ServiceSpec] = Nil,
    savedDatasets: Seq[SavedDatasetSpec] = Nil,
    validations: Seq[ValidationSpec] = Nil,
    entities: Seq[EntitySpec] = Nil
)

/** File-backed registry persistence: `apply` upserts definitions into a
  * JSON registry file (atomic replace), `load`/`loadRegistry` rebuild the
  * definitions — metadata only, KBs; all data stays in the sources, so
  * nothing here limits scale.
  */
object DurableRegistry {

  /** Reference `feast apply` semantics (feature_store.py:1556): merge the
    * given definitions into the registry file by name — an existing name is
    * replaced in place (its position kept), new names append in given
    * order — and atomically replace the file. Returns the merged registry.
    *
    * Concurrency: the read-merge-write is serialized under a JVM lock
    * (applies from one driver never lose each other's definitions) AND an
    * OS file lock on `<path>.lock` — concurrent applies from SEPARATE
    * driver processes queue on the lock instead of last-writer-winning,
    * so cross-process applies are lossless too (stronger than the
    * reference's file registry, which has no writer lock). The atomic
    * rename in [[save]] additionally protects readers from torn files.
    */
  def apply(
      path: String,
      views: Seq[ViewSpec] = Nil,
      odfvs: Seq[OdfvSpec] = Nil,
      services: Seq[ServiceSpec] = Nil,
      savedDatasets: Seq[SavedDatasetSpec] = Nil,
      validations: Seq[ValidationSpec] = Nil,
      entities: Seq[EntitySpec] = Nil
  ): RegistryFile = {
    applyLock.synchronized {
    withFileLock(path) {
    val cur = if (java.nio.file.Files.exists(java.nio.file.Paths.get(path)))
      load(path)
    else RegistryFile()
    def upsert[T](existing: Seq[T], incoming0: Seq[T], nameOf: T => String): Seq[T] = {
      // within one batch the LAST occurrence of a name wins (mirrors the
      // semantics of repeated apply calls) — without this dedupe a name
      // duplicated in `incoming0` would both replace in place AND append,
      // leaving two same-name specs in the file
      val incoming = incoming0.foldLeft(Vector.empty[T])((acc, v) =>
        acc.filterNot(e => nameOf(e) == nameOf(v)) :+ v)
      existing.map(v =>
        incoming.find(i => nameOf(i) == nameOf(v)).getOrElse(v)) ++
        incoming.filterNot(v => existing.exists(e => nameOf(e) == nameOf(v)))
    }
    val merged = RegistryFile(
      views = upsert[ViewSpec](cur.views, views, _.name),
      odfvs = upsert[OdfvSpec](cur.odfvs, odfvs, _.name),
      services = upsert[ServiceSpec](cur.services, services, _.name),
      savedDatasets = upsert[SavedDatasetSpec](cur.savedDatasets, savedDatasets, _.name),
      validations = upsert[ValidationSpec](cur.validations, validations, _.name),
      entities = upsert[EntitySpec](cur.entities, entities, _.name))
    save(path, merged)
    merged
    }
    }
  }

  private val applyLock = new Object

  /** Cross-process writer lock — see [[Locks.withFileLock]] (shared with
    * the backfill manifest store). `apply` is already serialized same-JVM
    * by `applyLock`, so a same-JVM overlap can only be an external holder,
    * e.g. a backup tool or a test.
    */
  private def withFileLock[T](path: String)(body: => T): T =
    Locks.withFileLock(path)(body)

  /** Atomic replace ([[graft.JsonCodec.writeAtomic]]): a concurrent reader
    * sees either the old or the new registry, never a torn file.
    */
  def save(path: String, file: RegistryFile): Unit =
    JsonCodec.writeAtomic(java.nio.file.Paths.get(path), JsonCodec.pretty(file))

  def load(path: String): RegistryFile =
    JsonCodec.read[RegistryFile](java.nio.file.Files.readString(java.nio.file.Paths.get(path)))

  /** Look up a registered entity by name (reference feature_store.py
    * `get_entity` → registry.py `get_entity`): the durable answer to
    * "which column identifies this entity" for tooling and entity-frame
    * construction.
    */
  def entity(regPath: String, name: String): EntitySpec =
    load(regPath).entities.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"no entity '$name' in registry $regPath"))

  /** Load a registered saved dataset's rows (reference
    * feature_store.py `get_saved_dataset` → storage read).
    */
  def loadSavedDataset(spark: SparkSession, regPath: String, name: String): DataFrame = {
    val spec = savedDatasetSpec(load(regPath), name)
    spark.read.parquet(spec.path)
  }

  /** Validate `candidate` against a registered validation reference: look
    * up the [[ValidationSpec]], follow it to its saved dataset's stored
    * profile, and run [[graft.stats.DatasetProfile.validate]] with the
    * recorded columns/tolerance. Returns the per-(column, metric) report
    * (reference flow: SavedDataset.as_reference → validate,
    * saved_dataset.py:259; dqm/errors.py ValidationFailed is the throwing
    * variant — compose with `DatasetProfile.requireValid` for that).
    */
  def validateAgainst(
      spark: SparkSession,
      regPath: String,
      validationName: String,
      candidate: DataFrame
  ): DataFrame = {
    val file = load(regPath)
    val v = file.validations.find(_.name == validationName).getOrElse(
      throw new IllegalArgumentException(
        s"no validation reference '$validationName' in registry $regPath"))
    val ds = savedDatasetSpec(file, v.savedDatasetName)
    val profilePath = ds.profilePath.getOrElse(
      throw new IllegalArgumentException(
        s"saved dataset '${ds.name}' has no stored profile — " +
          "persist it with DatasetProfile.saveWithProfile to use it as a " +
          "validation reference"))
    val ref = spark.read.parquet(profilePath)
    graft.stats.DatasetProfile.validate(candidate, ref, v.columns, v.relTol,
      exact = v.exact)
  }

  private def savedDatasetSpec(file: RegistryFile, name: String): SavedDatasetSpec =
    file.savedDatasets.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"no saved dataset '$name' in registry"))

  /** Rebuild a live [[Registry]] from the file: resolve every source
    * descriptor lazily into its DataFrame (plans only — no data reads until
    * a retrieval runs) and re-register views, ODFVs, and services.
    */
  def loadRegistry(spark: SparkSession, path: String): Registry = {
    val file = load(path)
    val reg = new Registry()
    val viewByName = file.views.map(v => v.name -> v.toView(spark)).toMap
    file.views.foreach(v => reg.register(viewByName(v.name)))
    file.odfvs.foreach(o => reg.register(o.toView))
    file.services.foreach { s =>
      reg.register(FeatureService(s.name, s.projections.map { p =>
        val v = viewByName.getOrElse(p.viewName,
          throw new IllegalArgumentException(
            s"service '${s.name}' references unregistered view '${p.viewName}'"))
        Projection(v, p.features, p.joinKeyMap, p.nameAlias)
      }))
    }
    reg
  }
}
