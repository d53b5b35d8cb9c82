package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.state.{BucketedParquetConnector, Connector, ConnectorStats, JdbcConnector, ParquetConnector, TempViewConnector}

/** The reference's connector contract, run over every implementation —
  * mirrors ralf/tests/test_state.py:35-73 (parametrized over
  * dict/SQLite/Redis connectors): upsert, point query, bulk query,
  * update-in-place, delete, and the num_updates/num_deletes/num_records
  * counter triple.
  */
class ConnectorSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("a", StringType, nullable = true)))

  private def df(rows: (Long, String)*) = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map(r => Row(r._1, r._2)).asJava, schema)
  }

  private def tmp(prefix: String) =
    java.nio.file.Files.createTempDirectory(prefix).toString

  private def connectors: Seq[(String, () => Connector)] = Seq(
    "temp-view" -> (() => new TempViewConnector(spark, "key", schema, s"t_conn_${System.nanoTime()}")),
    "jdbc-derby" -> (() => new JdbcConnector(spark, "key", schema, tmp("graft-derby") + "/db", "state")),
    "parquet-versioned" -> (() => new ParquetConnector(spark, "key", schema, tmp("graft-pqconn"))),
    "parquet-bucketed" -> (() => new BucketedParquetConnector(spark, "key", schema, tmp("graft-bkconn"), numBuckets = 4))
  )

  for ((name, mk) <- connectors) {
    test(s"$name connector honors the reference TableState contract") {
      val c = mk()
      // upsert + point query
      c.upsert(df(1L -> "a"))
      assert(c.pointQuery(1L).map(_.getString(1)) == Some("a"))
      assert(c.pointQuery(1000L).isEmpty) // miss: None, the KeyError analog
      // bulk query
      c.upsert(df(2L -> "b"))
      assert(c.bulkQuery().collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set(1L -> "a", 2L -> "b"))
      // update-in-place: later upsert wins
      c.upsert(df(2L -> "c"))
      assert(c.pointQuery(2L).map(_.getString(1)) == Some("c"))
      // delete
      c.delete(Seq(2L))
      assert(c.pointQuery(2L).isEmpty)
      assert(c.bulkQuery().collect().map(r => (r.getLong(0), r.getString(1))).toSet
        == Set(1L -> "a"))
      // debug_state counter triple (test_state.py:66-72)
      val s = c.stats
      assert(s.numUpdates == 3L)
      assert(s.numDeletes == 1L)
      assert(s.numRecords == 1L)
    }
  }

  for ((name, mk) <- connectors) {
    test(s"$name connector rejects off-schema batches (Schema.validate_record / v2 type check)") {
      import scala.jdk.CollectionConverters._
      val c = mk()
      c.upsert(df(1L -> "a")) // legal batch establishes the table
      // missing column (the reference's Record(a="a") case,
      // ralf/tests/test_state.py:24-26 / record.py:36-42)
      val missing = intercept[IllegalArgumentException] {
        c.upsert(spark.createDataFrame(Seq(Row(2L)).asJava,
          StructType(Seq(StructField("key", LongType, nullable = false)))))
      }
      assert(missing.getMessage.contains("missing: a"), missing.getMessage)
      // extra column (schema_columns == record_columns is an equality,
      // so extras fail too)
      val extra = intercept[IllegalArgumentException] {
        c.upsert(spark.createDataFrame(Seq(Row(2L, "b", 9L)).asJava,
          StructType(schema.fields :+ StructField("surplus", LongType, nullable = false))))
      }
      assert(extra.getMessage.contains("unexpected: surplus"), extra.getMessage)
      // same names, wrong type (the v2 typed-field check,
      // ralf/v2/record.py:117-127)
      val mistyped = intercept[IllegalArgumentException] {
        c.upsert(spark.createDataFrame(Seq(Row(2L, 7L)).asJava,
          StructType(Seq(schema.fields.head, StructField("a", LongType, nullable = false)))))
      }
      assert(mistyped.getMessage.contains("batch column types"), mistyped.getMessage)
      // nothing was written by any rejected batch; counters untouched
      assert(c.stats == ConnectorStats(1L, 0L, 1L))
      assert(c.pointQuery(2L).isEmpty)
    }
  }

  test("delete never drops null-key rows (ADVICE r2: bare !isin is NULL for them)") {
    val nullableSchema = StructType(Seq(
      StructField("key", LongType, nullable = true),
      StructField("a", StringType, nullable = true)))
    import scala.jdk.CollectionConverters._
    val c = new TempViewConnector(spark, "key", nullableSchema, s"t_nullk_${System.nanoTime()}")
    c.upsert(spark.createDataFrame(
      Seq(Row(1L, "a"), Row(2L, "b"), Row(null, "n")).asJava, nullableSchema))
    c.delete(Seq(1L))
    val left = c.bulkQuery().collect().map(r => (if (r.isNullAt(0)) null else r.getLong(0), r.getString(1))).toSet
    assert(left == Set((2L, "b"), (null, "n")),
      "deleting key 1 must keep key 2 AND the null-key row")
  }

  test("versioned dir: reader falls back to newest committed version when the pointer is lost") {
    val root = tmp("graft-pqptr")
    val c = new ParquetConnector(spark, "key", schema, root)
    c.upsert(df(1L -> "a"))
    c.upsert(df(2L -> "b"))
    val ptr = new java.io.File(root, "_CURRENT")
    assert(ptr.exists())
    assert(ptr.delete(), "test setup: simulate a lost pointer")
    assert(c.bulkQuery().collect().map(_.getLong(0)).toSet == Set(1L, 2L),
      "fallback must resolve the newest committed v* dir")
  }

  test("versioned parquet connector prunes superseded versions") {
    val root = tmp("graft-pqgc")
    val c = new ParquetConnector(spark, "key", schema, root)
    (1 to 5).foreach(i => c.upsert(df(i.toLong -> s"v$i")))
    assert(c.count() == 5)
    val vdirs = new java.io.File(root).listFiles().filter(_.getName.startsWith("v")).map(_.getName)
    assert(vdirs.length <= 2, s"superseded versions must be pruned, found: ${vdirs.mkString(",")}")
  }

  test("diffVersions: added/removed/changed/unchanged between snapshots") {
    import scala.jdk.CollectionConverters._
    val root = tmp("graft-pqdiff")
    def snap(rows: (Long, String)*): org.apache.spark.sql.DataFrame =
      spark.createDataFrame(
        rows.map { case (k, v) => Row(k, v) }.asJava, schema)
    val v0 = graft.state.VersionedDir.publish(spark, root,
      snap(1L -> "a", 2L -> "b", 3L -> "c"))
    val v1 = graft.state.VersionedDir.publish(spark, root,
      snap(2L -> "b", 3L -> "C2", 4L -> "d"))
    val got = graft.state.VersionedDir.diffVersions(spark, root, v0, v1, "key")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(1L -> "removed", 2L -> "unchanged", 3L -> "changed", 4L -> "added"))
    // time-travel read of the superseded version still works (within keepVersions)
    val old = graft.state.VersionedDir.readVersion(spark, root, v0)
    assert(old.map(_.count()) == Some(3L))
  }

  test("bucketed connector refuses replace with a named error and keeps its table") {
    val c = new BucketedParquetConnector(spark, "key", schema, tmp("graft-bkrepl"), numBuckets = 4)
    c.upsert(df(1L -> "a", 2L -> "b"))
    val e = intercept[UnsupportedOperationException](c.replace(df(3L -> "c")))
    assert(e.getMessage.startsWith("BucketedParquetConnector.replace"), e.getMessage)
    assert(c.bulkQuery().collect().map(r => (r.getLong(0), r.getString(1))).toSet == Set(1L -> "a", 2L -> "b"))
  }
}
