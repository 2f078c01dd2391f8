package graft.preprocessing

import org.apache.spark.sql.{DataFrame, Row, SparkSession, functions => F}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.Persist

/** Unknown-label policies (reference: replay/preprocessing/label_encoder.py:352-379). */
sealed trait HandleUnknown
object HandleUnknown {
  case object Error      extends HandleUnknown
  case object Drop       extends HandleUnknown
  /** Map unknowns to `default` (reference "use_default_value"). */
  final case class UseDefault(default: Long) extends HandleUnknown
}

/** Deterministic dense-id label encoding.
  *
  * Semantics from the reference LabelEncodingRule
  * (replay/preprocessing/label_encoder.py:86-566): fit assigns codes
  * 0..n-1 by *sorted* distinct label order; transform joins the mapping;
  * partialFit appends new labels after the current max code;
  * inverseTransform joins back.
  *
  * Scale (SURVEY §7.4.2): the reference collects the mapping to a driver
  * dict (label_encoder.py:172-185) — at 100 TB that's a driver OOM. Here the
  * mapping is itself a DataFrame: fit uses range-repartition + sort-within +
  * zipWithIndex, so the global sort never lands on a single partition and
  * nothing is collected. The mapping is a materialized plan leaf
  * ([[graft.core.Persist.leaf]]) in `fit`, `partialFit` and
  * `ModelIO.loadEncoder`, so the planner knows its size: transform joins a
  * small mapping by broadcast, without shuffling its input, and keeps a
  * shuffle join for a large one. The mapping is cached; the caller that
  * discards an encoder releases it with `mapping.unpersist()`.
  */
final class LabelEncoder private (
    val mapping: DataFrame,   // columns: label (original type), code LONG
    val column: String,
    val handleUnknown: HandleUnknown,
) extends Serializable {

  def codeColumn: String = s"${column}_encoded"

  /** Replace `column` with its dense code. */
  def transform(df: DataFrame): DataFrame = {
    val m = mapping.withColumnRenamed("label", column)
    handleUnknown match {
      case HandleUnknown.Error =>
        // stops at the first unseen label; they are counted only to fail
        val unknown = df.select(column).join(m.select(column), Seq(column), "left_anti")
        if (!unknown.isEmpty)
          throw new IllegalArgumentException(
            s"${unknown.distinct().count()} unseen labels in '$column' with handleUnknown=Error")
        joinEncode(df, m)
      case HandleUnknown.Drop =>
        df.join(m, Seq(column), "inner")
          .withColumn(column, F.col("code")).drop("code")
      case HandleUnknown.UseDefault(d) =>
        df.join(m, Seq(column), "left")
          .withColumn(column, F.coalesce(F.col("code"), F.lit(d))).drop("code")
    }
  }

  private def joinEncode(df: DataFrame, m: DataFrame): DataFrame =
    df.join(m, Seq(column), "left")
      .withColumn(column, F.col("code")).drop("code")

  /** Map codes back to original labels (label_encoder.py:440+). */
  def inverseTransform(df: DataFrame): DataFrame =
    df.join(mapping.withColumnRenamed("code", column), Seq(column), "inner")
      .withColumn(column, F.col("label")).drop("label")

  /** Append unseen labels with codes after the current max
    * (label_encoder.py:227-309). */
  def partialFit(df: DataFrame): LabelEncoder = {
    val maxCode = mapping.agg(F.max("code")).first() match {
      case r if r.isNullAt(0) => -1L // empty mapping: new codes start at 0
      case r                  => r.getLong(0)
    }
    val fresh = df.select(F.col(column).as("label")).distinct()
      .join(mapping.select("label"), Seq("label"), "left_anti")
    val freshCoded = LabelEncoder.denseIds(fresh, "label", from = maxCode + 1)
    val merged = Persist.leaf(mapping.unionByName(freshCoded))
    freshCoded.unpersist()
    new LabelEncoder(merged, column, handleUnknown)
  }
}

object LabelEncoder {
  def fit(
      df: DataFrame,
      column: String,
      handleUnknown: HandleUnknown = HandleUnknown.Error,
  ): LabelEncoder = {
    val distinct = df.select(F.col(column).as("label")).distinct()
    new LabelEncoder(denseIds(distinct, "label"), column, handleUnknown)
  }

  /** Rehydrate from persisted state (ModelIO.loadEncoder) — the fitted
    * mapping IS the model, so no refit happens on load. */
  private[graft] def fromState(mapping: DataFrame, column: String,
      handleUnknown: HandleUnknown): LabelEncoder =
    new LabelEncoder(mapping, column, handleUnknown)

  /** Codes `from`, `from` + 1, … in sorted label order, as a
    * [[graft.core.Persist.leaf]], without a single-partition global
    * window: range partitioning keeps partitions globally ordered, so
    * zipWithIndex yields the same ids a global sort would. */
  private[preprocessing] def denseIds(distinct: DataFrame, labelCol: String,
      from: Long = 0L): DataFrame = {
    val sorted = distinct
      .repartitionByRange(F.col(labelCol))
      .sortWithinPartitions(labelCol)
    val schema = StructType(sorted.schema.fields :+ StructField("code", LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (row, idx) =>
      Row.fromSeq(row.toSeq :+ (from + idx))
    }
    Persist.leaf(distinct.sparkSession, rdd, schema)
  }
}

/** Dataset-level encoder (reference: replay/data/dataset_utils/
  * dataset_label_encoder.py:20-200): one LabelEncoder per id column,
  * fitted over the UNION of the ids in interactions and the matching
  * feature table — a feature-only entity (cold user with a profile, item
  * not yet interacted) still gets a code — then applied consistently
  * across all three tables so every table speaks the same dense id space.
  * Extra categorical feature columns encode within their own table. */
final class DatasetLabelEncoder(
    val handleUnknown: HandleUnknown = HandleUnknown.Error,
    val categoricalQueryFeatures: Seq[String] = Nil,
    val categoricalItemFeatures: Seq[String] = Nil,
) extends Serializable {
  import graft.core.RsDataset

  var queryEncoder: LabelEncoder = _
  var itemEncoder: LabelEncoder = _
  var featureEncoders: Map[String, LabelEncoder] = Map.empty

  def fit(ds: RsDataset): this.type = {
    def idUnion(col: String, feat: Option[DataFrame]): DataFrame =
      feat.map(f => ds.interactions.select(col).unionByName(f.select(col)))
        .getOrElse(ds.interactions.select(col))
    queryEncoder = LabelEncoder.fit(
      idUnion(ds.queryColumn, ds.queryFeatures), ds.queryColumn, handleUnknown)
    itemEncoder = LabelEncoder.fit(
      idUnion(ds.itemColumn, ds.itemFeatures), ds.itemColumn, handleUnknown)
    require(categoricalQueryFeatures.isEmpty || ds.queryFeatures.isDefined,
      "categoricalQueryFeatures given but the dataset has no query features")
    require(categoricalItemFeatures.isEmpty || ds.itemFeatures.isDefined,
      "categoricalItemFeatures given but the dataset has no item features")
    featureEncoders =
      (categoricalQueryFeatures.map(c =>
        c -> LabelEncoder.fit(ds.queryFeatures.get, c, handleUnknown)) ++
       categoricalItemFeatures.map(c =>
        c -> LabelEncoder.fit(ds.itemFeatures.get, c, handleUnknown))).toMap
    this
  }

  def transform(ds: RsDataset): RsDataset = {
    val qf = ds.queryFeatures.map { f =>
      categoricalQueryFeatures.foldLeft(queryEncoder.transform(f)) {
        (d, c) => featureEncoders(c).transform(d)
      }
    }
    val itf = ds.itemFeatures.map { f =>
      categoricalItemFeatures.foldLeft(itemEncoder.transform(f)) {
        (d, c) => featureEncoders(c).transform(d)
      }
    }
    ds.copy(
      interactions = itemEncoder.transform(queryEncoder.transform(ds.interactions)),
      queryFeatures = qf,
      itemFeatures = itf)
  }

  def fitTransform(ds: RsDataset): RsDataset = fit(ds).transform(ds)
}
