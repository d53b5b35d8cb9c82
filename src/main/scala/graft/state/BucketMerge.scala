package graft.state

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.hadoop.conf.Configuration
import org.apache.spark.{HashPartitioner, SerializableWritable}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeSet, BoundReference, GenericInternalRow, JoinedRow, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode, UnsafeRowSerializer}
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{BinaryType, BooleanType, DateType, IntegerType, NumericType, StringType, StructType, TimestampNTZType, TimestampType}
import org.apache.spark.util.MutablePair

/** The per-task half of a bucketed merge ([[BucketedDir.merge]]): given
  * the batch rows of the buckets one task holds (batch columns, then the
  * bucket id), it reads each bucket's stored version and returns the
  * bucket's next contents (table columns, then the bucket id), bucket by
  * bucket in ascending order.
  *
  * For each bucket: resolve its `_CURRENT` pointer, stream the stored
  * version through Spark's Parquet reader, pass the stored rows of keys
  * outside the batch through unchanged, and hold only the stored rows of
  * batch keys; once the stored version is read, `mergeFn(stored rows of
  * k, batch rows of k)` gives key k's new rows. Only the batch and the
  * stored rows of its keys are ever in memory.
  *
  * Keys group by value: strings by their bytes, numbers and NULL as
  * themselves, BINARY by content. Other key types are refused on the
  * driver ([[keyOf]]), before anything is written.
  */
private[state] final class BucketMergeTask(
    root: String,
    batchSchema: StructType,
    schema: StructType,
    keyCol: String,
    mergeFn: (Seq[Row], Seq[Row]) => Seq[Row],
    read: PartitionedFile => Iterator[InternalRow],
    conf: Broadcast[SerializableWritable[Configuration]]
) extends Serializable {

  BucketMergeTask.validate(batchSchema, schema, keyCol)
  private val batchKey = BucketMergeTask.keyOf(batchSchema, keyCol)
  private val storedKey = BucketMergeTask.keyOf(schema, keyCol)

  /** Merge the buckets of one task. `rows` carry the batch columns and
    * then the bucket id.
    */
  def run(rows: Iterator[InternalRow]): Iterator[InternalRow] = {
    val n = batchSchema.length
    val batchCols = UnsafeProjection.create(
      batchSchema.fields.toSeq.zipWithIndex.map { case (f, i) => BoundReference(i, f.dataType, f.nullable) })
    val byBucket = mutable.TreeMap.empty[Int, mutable.LinkedHashMap[Any, mutable.ArrayBuffer[InternalRow]]]
    rows.foreach { r =>
      val row = batchCols(r).copy()
      byBucket.getOrElseUpdate(r.getInt(n), mutable.LinkedHashMap.empty)
        .getOrElseUpdate(batchKey(row), mutable.ArrayBuffer.empty) += row
    }
    if (byBucket.isEmpty) Iterator.empty
    else {
      val toBatchRow = CatalystTypeConverters.createToScalaConverter(batchSchema)
      val toRow = CatalystTypeConverters.createToScalaConverter(schema)
      val fromRow = CatalystTypeConverters.createToCatalystConverter(schema)
      val out = UnsafeProjection.create((schema.fields.map(_.dataType) :+ IntegerType).toArray)
      val joined = new JoinedRow
      val fs = VersionedDir.fs(conf.value.value, root)
      byBucket.iterator.flatMap { case (b, batch) =>
        val bktRow = new GenericInternalRow(Array[Any](b))
        def emit(r: InternalRow): InternalRow = out(joined(r, bktRow))
        val stored = BucketedDir.currentRows(fs, root, b, read)
        val held = mutable.HashMap.empty[Any, mutable.ArrayBuffer[InternalRow]]
        val passed = stored.filter { r =>
          val hit = batch.contains(storedKey(r))
          // the reader reuses its row: key the held copy, not the view
          if (hit) { val c = r.copy(); held.getOrElseUpdate(storedKey(c), mutable.ArrayBuffer.empty) += c }
          !hit
        }.map(emit(_))
        passed ++ batch.iterator.flatMap { case (k, rs) =>
          mergeFn(held.getOrElse(k, Nil).map(r => toRow(r).asInstanceOf[Row]).toSeq,
            rs.map(r => toBatchRow(r).asInstanceOf[Row]).toSeq)
            .iterator.map(r => emit(fromRow(r).asInstanceOf[InternalRow]))
        }
      }
    }
  }
}

private[state] object BucketMergeTask {

  /** Refuse a key column that cannot group by value, or whose type in
    * the batch is not its type in the table.
    */
  def validate(batchSchema: StructType, schema: StructType, keyCol: String): Unit = {
    keyOf(schema, keyCol)
    require(batchSchema(keyCol).dataType == schema(keyCol).dataType,
      s"bucketed merge key $keyCol is ${batchSchema(keyCol).dataType.sql} in the batch " +
        s"but ${schema(keyCol).dataType.sql} in the table")
  }

  /** The grouping value of `keyCol` in a row of `schema`. */
  def keyOf(schema: StructType, keyCol: String): InternalRow => Any = {
    val i = schema.fieldIndex(keyCol)
    schema(i).dataType match {
      case BinaryType => r => if (r.isNullAt(i)) null else ByteBuffer.wrap(r.getBinary(i))
      case dt @ (_: StringType | _: NumericType | BooleanType | DateType | TimestampType | TimestampNTZType) =>
        r => if (r.isNullAt(i)) null else r.get(i, dt)
      case dt => throw new IllegalArgumentException(
        s"bucketed merge key $keyCol has type ${dt.sql}; only atomic key types group by value")
    }
  }

  /** The task for a merge into the table at `root` with table `schema`. */
  def apply(
      spark: SparkSession,
      root: String,
      batchSchema: StructType,
      schema: StructType,
      keyCol: String,
      mergeFn: (Seq[Row], Seq[Row]) => Seq[Row]
  ): BucketMergeTask = {
    // tasks get the session's Hadoop conf broadcast, once per merge, for
    // their filesystem calls; the reader broadcasts its own copy
    new BucketMergeTask(root, batchSchema, schema, keyCol, mergeFn, reader(spark, schema),
      spark.sparkContext.broadcast(new SerializableWritable(new ParquetFileFormat().getHadoopConf(spark))))
  }

  /** Spark's Parquet reader of files in the table `schema`, row by row:
    * what [[BucketedDir.currentRows]] reads stored bucket rows with, in
    * merge tasks and driver-side lookups alike. Building it broadcasts
    * a copy of the session's Hadoop conf (the reader sets keys on it),
    * so a caller builds it once and reuses it.
    */
  def reader(spark: SparkSession, schema: StructType): PartitionedFile => Iterator[InternalRow] = {
    val format = new ParquetFileFormat()
    format.buildReaderWithPartitionValues(spark, schema, new StructType(), schema,
      Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), format.getHadoopConf(spark))
  }
}

/** Logical node of a bucketed merge: the batch (its columns, then the
  * bucket id `bkt`) in, the touched buckets' next contents (`output`:
  * the table columns, then `bkt`) out, ordered by `bkt` within each
  * partition, so a write partitioned by `bkt` needs no sort.
  */
private[state] final case class BucketMerge(
    task: BucketMergeTask,
    partitions: Int,
    bkt: Attribute,
    output: Seq[Attribute],
    child: LogicalPlan
) extends UnaryNode {
  override def outputOrdering: Seq[SortOrder] = SortOrder(bkt, Ascending) :: Nil
  override def producedAttributes: AttributeSet = AttributeSet(output.init)
  override protected def withNewChildInternal(newChild: LogicalPlan): BucketMerge = copy(child = newChild)
}

/** Runs [[BucketMerge]]: the batch is shuffled on the bucket id as an
  * RDD shuffle inside this node, not as a planned exchange, so the whole
  * merge (batch, shuffle, per-bucket merge, write) is one Spark job; a
  * planned exchange would be a query stage of its own under adaptive
  * execution. Bucket b goes to partition b mod `partitions`.
  */
private[state] final case class BucketMergeExec(
    task: BucketMergeTask,
    partitions: Int,
    bkt: Attribute,
    output: Seq[Attribute],
    child: SparkPlan
) extends UnaryExecNode {
  override def outputOrdering: Seq[SortOrder] = SortOrder(bkt, Ascending) :: Nil
  override def outputPartitioning: Partitioning = UnknownPartitioning(partitions)
  override def producedAttributes: AttributeSet = AttributeSet(output.init)

  override protected def doExecute(): RDD[InternalRow] = {
    val width = child.output.size
    val b = child.output.indexWhere(_.exprId == bkt.exprId)
    val schema = child.schema
    val keyed = child.execute().mapPartitions { it =>
      lazy val unsafe = UnsafeProjection.create(schema)
      val pair = new MutablePair[Int, InternalRow]()
      it.map {
        case r: UnsafeRow => pair.update(r.getInt(b), r)
        case r => pair.update(r.getInt(b), unsafe(r))
      }
    }
    val t = task
    new ShuffledRDD[Int, InternalRow, InternalRow](keyed, new HashPartitioner(partitions))
      .setSerializer(new UnsafeRowSerializer(width))
      .mapPartitions(it => t.run(it.map(_._2)))
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BucketMergeExec = copy(child = newChild)
}

private[graft] object BucketMergeStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case BucketMerge(task, partitions, bkt, output, child) =>
      BucketMergeExec(task, partitions, bkt, output, planLater(child)) :: Nil
    case _ => Nil
  }
}
