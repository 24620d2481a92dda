package graft.ml

import org.apache.spark.ml.Transformer
import org.apache.spark.ml.graft.shim
import org.apache.spark.ml.param.{ParamMap, StringArrayParam}
import org.apache.spark.ml.util.{Identifiable, MLReadable, MLReader, MLWritable, MLWriter}
import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.api.java.UDF1
import org.apache.spark.sql.functions.{col, count, grouping, lit, udf}
import org.apache.spark.sql.types._
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._

/** The train-only count encodings (SURVEY.md §2.4 J1, `XGBoost.py:168-187`)
  * as a fitted pipeline stage: one key → count table per density column,
  * collected once at fit time (|distinct(key)| entries each — the same
  * driver-memory bound [[graft.engine.Density.attachCount]]'s broadcast
  * join assumes).
  *
  * `transform` is a projection that attaches each density with an O(1)
  * hashed lookup — no join and no scan of the statistics frame — so
  * serving one row costs the same at any training size, and a one-row
  * local request folds into a local relation and runs no Spark job.
  * Every density is attached in one `withColumns` projection, so the
  * analyzer runs once per transform, not once per key; a column of the
  * same name is replaced.
  *
  * Values equal the join-based [[graft.engine.Density.attachCount]]'s:
  * `bigint` counts, 0 for unseen and null keys, and join equality for
  * floating keys (−0.0 = 0.0, NaN = NaN). */
final class DensityModel private (override val uid: String,
    private val tables: Array[DensityModel.Counts])
    extends Transformer with MLWritable {

  final val inputCols = new StringArrayParam(this, "inputCols",
    "count-encoded key columns")
  final val outputCols = new StringArrayParam(this, "outputCols",
    "density column written for each key")

  private def setKeys(keys: Seq[(String, String)]): this.type =
    set(inputCols, keys.map(_._1).toArray)
      .set(outputCols, keys.map(_._2).toArray)

  override def transform(dataset: Dataset[_]): DataFrame = {
    transformSchema(dataset.schema, logging = true)
    dataset.toDF().withColumns(ListMap($(inputCols).indices.map { i =>
      $(outputCols)(i) ->
        udf(tables(i), LongType).asNonNullable()(col($(inputCols)(i)))
    }: _*))
  }

  override def transformSchema(schema: StructType): StructType = {
    $(inputCols).foreach(DensityModel.checkKey(schema, _))
    $(outputCols).foldLeft(schema) { (s, out) =>
      val field = StructField(out, LongType, nullable = false)
      if (s.fieldNames.contains(out))
        StructType(s.map(f => if (f.name == out) field else f))
      else s.add(field)
    }
  }

  override def copy(extra: ParamMap): DensityModel =
    copyValues(new DensityModel(uid, tables), extra)

  override def write: MLWriter = new DensityModel.Writer(this)
}

object DensityModel extends MLReadable[DensityModel] {

  /** Count every key (input column → density column) over the statistics
    * frame in one aggregation ([[countValues]]). */
  def fit(stats: DataFrame, keys: Seq[(String, String)]): DensityModel =
    fromCounts(stats.schema, keys, countValues(stats, keyColumns(stats, keys)))

  /** The key columns to count for `keys`, each checked to be a supported
    * key type. */
  private[ml] def keyColumns(stats: DataFrame,
      keys: Seq[(String, String)]): Seq[Column] =
    keys.map { case (key, _) => checkKey(stats.schema, key); col(key) }

  /** The density stage from one (value, count) list per key, as
    * [[countValues]] returns them for [[keyColumns]]. */
  private[ml] def fromCounts(schema: StructType, keys: Seq[(String, String)],
      counts: Seq[Seq[(Any, Long)]]): DensityModel = {
    val tables = keys.zip(counts).map { case ((key, _), c) =>
      new Counts(schema(key).dataType, c.toArray)
    }
    new DensityModel(Identifiable.randomUID("density"), tables.toArray)
      .setKeys(keys)
  }

  /** Count the values of every column in `cols` over `df` in ONE
    * aggregation: grouping sets, one per column, collected once
    * (Σ |distinct(column)| rows). A row's set is told apart by
    * `grouping`, not by a null test, so a null value of a nullable column
    * is its own key. Returns each column's (value, count) pairs, in
    * `cols` order; a null value, when present, is one of the pairs. */
  private[ml] def countValues(df: DataFrame, cols: Seq[Column])
      : Seq[Seq[(Any, Long)]] = {
    val keys = cols.indices.map(i => s"_k$i")
    val n = keys.length
    val rows = df.select(cols.zip(keys).map { case (c, k) => c.as(k) }: _*)
      .groupingSets(keys.map(k => Seq(col(k))), keys.map(col): _*)
      .agg(count(lit(1)), keys.map(k => grouping(col(k))): _*)
      .collect()
    keys.indices.map { i =>
      rows.filter(_.getByte(n + 1 + i) == 0)
        .map(r => r.get(i) -> r.getLong(n)).toSeq
    }
  }

  /** Keys whose external values compare with `equals` exactly as Spark's
    * join compares them (binary and nested values do not). */
  private def checkKey(schema: StructType, key: String): Unit =
    schema(key).dataType match {
      case _: NumericType | BooleanType | StringType => ()
      case other => throw new IllegalArgumentException(
        s"density key `$key` has unsupported type ${other.sql}")
    }

  /** Collect a (key, count) frame into a hashed table. */
  private def collectCounts(table: DataFrame): Counts =
    new Counts(table.schema.head.dataType,
      table.collect().map(r => r.get(0) -> r.getLong(1)))

  /** One key → count table, hashed. Floating keys are stored and looked
    * up normalized as Spark's join normalizes them: −0.0 becomes 0.0, and
    * boxed `equals` already equates every NaN. Null keys are never stored
    * and count 0, like a left join's miss. */
  private[ml] final class Counts(val keyType: DataType,
      entries: Array[(Any, Long)]) extends UDF1[Any, java.lang.Long] {
    private val index = new java.util.HashMap[Any, java.lang.Long]()
    entries.foreach { case (k, n) =>
      if (k != null) index.put(normalize(k), n)
    }

    private def normalize(k: Any): Any = k match {
      case d: Double if d == 0.0 => 0.0
      case f: Float if f == 0.0f => 0.0f
      case other => other
    }

    override def call(key: Any): java.lang.Long =
      if (key == null) 0L
      else index.getOrDefault(normalize(key), 0L)

    def rows: Seq[Row] =
      index.asScala.map { case (k, n) => Row(k, n.longValue) }.toSeq
  }

  /** `path/metadata` (class, uid, key/density columns) plus one parquet
    * table of (key, count) per key under `path/data/<i>`. */
  private final class Writer(model: DensityModel) extends MLWriter {
    override protected def saveImpl(path: String): Unit = {
      shim.saveMetadata(model, path, sparkSession)
      model.tables.zipWithIndex.foreach { case (t, i) =>
        val schema = StructType(Seq(StructField("key", t.keyType),
          StructField("count", LongType, nullable = false)))
        sparkSession.createDataFrame(t.rows.asJava, schema)
          .write.parquet(s"$path/data/$i")
      }
    }
  }

  private final class Reader extends MLReader[DensityModel] {
    override def load(path: String): DensityModel = {
      val params = shim.loadMetadata(path, sparkSession)(
        new DensityModel(_, Array.empty))
      val tables = params.$(params.inputCols).indices.map { i =>
        collectCounts(sparkSession.read.parquet(s"$path/data/$i"))
      }
      params.copyValues(new DensityModel(params.uid, tables.toArray))
    }
  }

  override def read: MLReader[DensityModel] = new Reader
}
