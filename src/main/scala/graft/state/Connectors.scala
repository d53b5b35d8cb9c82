package graft.state

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Storage connectors with the reference's tested contract
  * (ralf/state/connector.py:7-30, exercised by
  * ralf/tests/test_state.py:35-73): upsert / point query / bulk query /
  * delete, plus the num_updates / num_deletes / num_records counter
  * triple surfaced by `TableState.debug_state`.
  *
  * Spark-first re-expression: a connector stores a one-row-per-key TABLE
  * and updates arrive as keyed BATCHES (DataFrames) rather than single
  * records — the new batch replaces stored rows on key collision, which
  * is exactly "later update wins" applied batch-at-a-time. The merge is
  * an anti-join (stored minus updated keys) plus the batch: one shuffle
  * on the key, broadcastable when the batch is small.
  */
final case class ConnectorStats(numUpdates: Long, numDeletes: Long, numRecords: Long)

trait Connector {
  def spark: SparkSession
  def keyCol: String

  protected var updates = 0L
  protected var deletes = 0L

  /** Current table (empty DataFrame with the table's schema if nothing
    * was ever written).
    */
  def bulkQuery(): DataFrame

  /** Replace the stored table. Implementations persist it durably. */
  protected def replace(table: DataFrame): Unit

  /** Reject a batch whose column set or types differ from the table's
    * schema — the reference's explicit Record field-set validation
    * (extra fields: ralf/record.py:36-42) and v2 per-field type check
    * (ralf/v2/record.py:117-127). Missing AND extra columns both fail
    * loudly before anything is written; types compare exactly by name
    * (nullability excluded — checkpoint barriers legally tighten it,
    * and the reference's check is name/type, not nullability).
    */
  protected def validateBatchSchema(batch: DataFrame): Unit = {
    val want = bulkQuery().schema.fields.map(f => f.name -> f.dataType).toMap
    val got = batch.schema.fields.map(f => f.name -> f.dataType).toMap
    val missing = (want.keySet -- got.keySet).toSeq.sorted
    val extra = (got.keySet -- want.keySet).toSeq.sorted
    require(missing.isEmpty && extra.isEmpty,
      s"upsert batch columns must equal the table schema" +
        (if (missing.nonEmpty) s"; missing: ${missing.mkString(", ")}" else "") +
        (if (extra.nonEmpty) s"; unexpected: ${extra.mkString(", ")}" else ""))
    val mistyped = want.keysIterator
      .filter(k => want(k) != got(k))
      .map(k => s"$k: table ${want(k).sql}, batch ${got(k).sql}")
      .toSeq.sorted
    require(mistyped.isEmpty,
      s"upsert batch column types must match the table schema; ${mistyped.mkString("; ")}")
  }

  /** Merge a keyed batch: batch rows replace stored rows with the same
    * key. A batch must carry at most one row per key (upstream
    * latest-per-key reduction guarantees this; duplicates are reduced
    * arbitrarily-but-deterministically here as a guard). Batches whose
    * column set or types differ from the table schema are rejected
    * ([[validateBatchSchema]]).
    */
  def upsert(batch: DataFrame): Unit = {
    validateBatchSchema(batch)
    // Materialize the deduped batch once: the num_updates count and the
    // merge both read the checkpointed blocks instead of re-running the
    // batch plan twice.
    val b = batch.dropDuplicates(keyCol).localCheckpoint(true)
    val cur = bulkQuery()
    val merged =
      if (cur.isEmpty) b
      else cur.join(broadcast(b.select(keyCol)), Seq(keyCol), "left_anti").unionByName(b)
    replace(merged)
    updates += b.count()
  }

  /** Delete the given keys; counts only keys that were present. Rows
    * whose key is NULL are never deleted by a key-list delete: a bare
    * `!isin` evaluates to NULL (row dropped) for them, so the predicate
    * keeps them explicitly.
    */
  def delete(keys: Seq[Any]): Unit = if (keys.nonEmpty) {
    val cur = bulkQuery()
    val hit = cur.filter(col(keyCol).isin(keys: _*)).count()
    if (hit > 0) replace(cur.filter(!col(keyCol).isin(keys: _*) || col(keyCol).isNull))
    deletes += hit
  }

  /** The key's current row, if present (`get_one`). */
  def pointQuery(key: Any): Option[Row] =
    bulkQuery().filter(col(keyCol) === lit(key)).collect().headOption

  def count(): Long = bulkQuery().count()

  /** The reference's debug_state counter triple. */
  def stats: ConnectorStats = ConnectorStats(updates, deletes, count())
}

/** Dict-connector analog (ralf/state/dict_connector.py): the table lives
  * in executor memory (localCheckpoint) and is exposed as a temp view
  * named `tableName`. Cheap and ephemeral — dev / test / small feature
  * tables.
  */
final class TempViewConnector(
    val spark: SparkSession,
    val keyCol: String,
    schema: StructType,
    tableName: String
) extends Connector {

  private var current: DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
  current.createOrReplaceTempView(tableName)

  override def bulkQuery(): DataFrame = current

  override protected def replace(table: DataFrame): Unit = {
    // checkpoint: break lineage so repeated merges don't stack plans,
    // and materialize before anything drops the old view
    current = table.localCheckpoint(true)
    current.createOrReplaceTempView(tableName)
  }
}

/** SQLite-connector analog (ralf/state/sqlite_connector.py) on embedded
  * Derby via Spark's JDBC source — the only embedded JDBC engine on the
  * offline classpath. Suited to modest control-plane tables; the
  * at-scale durable store is [[ParquetConnector]].
  */
final class JdbcConnector(
    val spark: SparkSession,
    val keyCol: String,
    schema: StructType,
    dbPath: String,
    tableName: String
) extends Connector {

  private val url = s"jdbc:derby:$dbPath;create=true"
  private val props = new java.util.Properties()
  props.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")

  private var created = false

  override def bulkQuery(): DataFrame =
    if (!created) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else spark.read.jdbc(url, tableName, props)

  override protected def replace(table: DataFrame): Unit = {
    // materialize BEFORE Overwrite drops the table the plan reads from
    val snap = table.localCheckpoint(true)
    snap.write.mode(SaveMode.Overwrite).jdbc(url, tableName, props)
    created = true
  }
}

/** Durable parquet connector over [[VersionedDir]] — the 100 TB path: a
  * partitioned columnar table republished per batch with an atomic
  * pointer swap; point queries are filtered scans (key predicate pushed
  * to parquet).
  */
final class ParquetConnector(
    val spark: SparkSession,
    val keyCol: String,
    schema: StructType,
    root: String
) extends Connector {

  override def bulkQuery(): DataFrame =
    VersionedDir.read(spark, root)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  override protected def replace(table: DataFrame): Unit = {
    VersionedDir.publish(spark, root, table)
    ()
  }
}

/** The 100 TB durable connector: [[BucketedDir]] layout, so `upsert` and
  * `delete` rewrite only the hash buckets that contain the batch's keys
  * instead of republishing the whole table per batch (the
  * [[ParquetConnector]] full-rewrite shape has O(table) write
  * amplification — fine for small control-plane tables, fatal for a
  * large feature table absorbing a stream of small batches). Reference
  * semantics: per-record upsert, ralf/state/sqlite_connector.py:30-38.
  * A point query is a driver-side read of the key's bucket, as ralf
  * routes a key to its shard and reads that shard's state
  * (ralf/operator.py:288-305).
  */
final class BucketedParquetConnector(
    val spark: SparkSession,
    val keyCol: String,
    schema: StructType,
    root: String,
    numBuckets: Int = 16
) extends Connector {

  override def bulkQuery(): DataFrame =
    BucketedDir.read(spark, root)
      .getOrElse(spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema))

  /** The bucket reader of lookups, built on the first one: building it
    * broadcasts a Hadoop conf.
    */
  private lazy val read = BucketMergeTask.reader(spark, schema)

  /** Whether `_BUCKETS` was found and checked against `numBuckets`; the
    * count is pinned for the table's life, so it is read once.
    */
  @volatile private var pinned = false

  /** A driver-side read of the key's hash bucket alone
    * ([[BucketedDir.lookup]]): no planned query, no Spark job. Each
    * lookup resolves the bucket's `_CURRENT`, so it sees the latest
    * published version. Fails if the table was created with another
    * bucket count.
    */
  override def pointQuery(key: Any): Option[Row] = {
    if (!pinned) pinned = BucketedDir.pinned(spark, root, numBuckets)
    if (!pinned) None else BucketedDir.lookup(spark, root, numBuckets, keyCol, schema, read)(key)
  }

  /** Not supported: a bucketed table is rewritten only bucket by
    * bucket, and a merge of `table` would keep every untouched bucket's
    * old rows — an upsert, not a replace. Nothing in the trait reaches
    * it ([[upsert]] and [[delete]] are overridden).
    */
  override def replace(table: DataFrame): Unit =
    throw new UnsupportedOperationException(
      "BucketedParquetConnector.replace: a bucketed table cannot be replaced in place; use upsert and delete")

  override def upsert(batch: DataFrame): Unit = {
    validateBatchSchema(batch)
    val b = batch.select(schema.fieldNames.map(col).toSeq: _*).dropDuplicates(keyCol).localCheckpoint(true)
    BucketedDir.merge(spark, root, b, keyCol, numBuckets, schema)((_, rows) => rows)
    updates += b.count()
  }

  /** Deletes through the bucketed merge: each deleted key's merge keeps
    * nothing. As in the trait, NULL-key rows are never deleted.
    */
  override def delete(keys: Seq[Any]): Unit = if (keys.nonEmpty) {
    import scala.jdk.CollectionConverters._
    val hit = bulkQuery().filter(col(keyCol).isin(keys: _*)).count()
    if (hit > 0) {
      // Route the key list through the same Spark-side bucket expression
      // as writes (never a driver-side hash), then rewrite only the
      // buckets the deleted keys live in.
      val keyDf = spark.createDataFrame(
        keys.filter(_ != null).map(k => Row(k)).asJava, StructType(Seq(schema(keyCol))))
      BucketedDir.merge(spark, root, keyDf, keyCol, numBuckets, schema)((_, _) => Nil)
    }
    deletes += hit
  }
}
