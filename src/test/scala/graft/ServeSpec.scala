package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}

import graft.serve.FeatureServer
import graft.state.{BucketedParquetConnector, TempViewConnector}

/** The reference's HTTP client contract (ralf/table.py:159-213 served
  * routes, ralf/tests/test_client.py): point query hit / miss / bad key,
  * and bulk query, over a live local server.
  */
class ServeSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("key", LongType, nullable = false),
    StructField("name", StringType, nullable = true),
    StructField("score", DoubleType, nullable = true)))

  private def get(port: Int, path: String): HttpResponse[String] = {
    val client = HttpClient.newHttpClient()
    client.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path")).GET().build(),
      HttpResponse.BodyHandlers.ofString())
  }

  test("point/bulk HTTP façade: hit, miss=404, malformed=400, bulk all rows") {
    import scala.jdk.CollectionConverters._
    val c = new TempViewConnector(spark, "key", schema, s"t_serve_${System.nanoTime()}")
    c.upsert(spark.createDataFrame(
      Seq(Row(1L, "alpha", 0.5), Row(2L, "beta \"q\"", null)).asJava, schema))
    val srv = new FeatureServer(c)
    srv.start()
    try {
      val port = srv.boundPort
      val hit = get(port, "/point?key=1")
      assert(hit.statusCode() == 200)
      assert(hit.body() == """{"row":{"key":1,"name":"alpha","score":0.5}}""")
      // null field + quote escaping survive the wire
      val hit2 = get(port, "/point?key=2")
      assert(hit2.body() == """{"row":{"key":2,"name":"beta \"q\"","score":null}}""")
      // miss: the KeyError analog
      assert(get(port, "/point?key=999").statusCode() == 404)
      // malformed key for a Long-keyed table
      assert(get(port, "/point?key=abc").statusCode() == 400)
      assert(get(port, "/point").statusCode() == 400)
      // bulk
      val bulk = get(port, "/bulk")
      assert(bulk.statusCode() == 200)
      assert(bulk.body().contains(""""key":1""") && bulk.body().contains(""""key":2"""))
    } finally srv.stop()
  }

  test("point/bulk HTTP façade over the bucketed store: hit, miss=404, malformed=400, bulk") {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Files.createTempDirectory("graft-serve-bkt").toString
    val c = new BucketedParquetConnector(spark, "key", schema, root, numBuckets = 4)
    c.upsert(spark.createDataFrame(
      Seq(Row(1L, "alpha", 0.5), Row(2L, "beta", null), Row(3L, "gamma", 1.5)).asJava, schema))
    val srv = new FeatureServer(c)
    srv.start()
    try {
      val port = srv.boundPort
      val hit = get(port, "/point?key=1")
      assert(hit.statusCode() == 200)
      assert(hit.body() == """{"row":{"key":1,"name":"alpha","score":0.5}}""")
      assert(get(port, "/point?key=2").body() == """{"row":{"key":2,"name":"beta","score":null}}""")
      assert(get(port, "/point?key=999").statusCode() == 404)
      assert(get(port, "/point?key=abc").statusCode() == 400)
      val bulk = get(port, "/bulk")
      assert(bulk.statusCode() == 200)
      assert(Seq(1, 2, 3).forall(k => bulk.body().contains(s""""key":$k,""")), bulk.body())
    } finally srv.stop()
  }

  test("wire JSON stays valid for control characters and non-finite doubles") {
    import scala.jdk.CollectionConverters._
    val c = new TempViewConnector(spark, "key", schema, s"t_serve_esc_${System.nanoTime()}")
    // raw U+0001 built programmatically (a source literal would be
    // mangled by scalac's unicode-escape pass)
    c.upsert(spark.createDataFrame(
      Seq(Row(1L, "line1\nline2\ttabbed" + 1.toChar, Double.NaN),
        Row(2L, "inf", Double.PositiveInfinity)).asJava, schema))
    val srv = new FeatureServer(c)
    srv.start()
    try {
      val port = srv.boundPort
      val r1 = get(port, "/point?key=1")
      assert(r1.statusCode() == 200)
      assert(r1.body() ==
        """{"row":{"key":1,"name":"line1\nline2\ttabbed\""" + """u0001","score":null}}""")
      val r2 = get(port, "/point?key=2")
      assert(r2.body() == """{"row":{"key":2,"name":"inf","score":null}}""")
    } finally srv.stop()
  }

  test("search server: lexical and ANN probes over the persisted indexes") {
    import org.apache.spark.sql.functions.col
    val sf = "/root/testdata/sf0.001"
    val docs = Tables.documents(spark, sf)
    val tidx = java.nio.file.Files.createTempDirectory("graft-srv-text").toString
    graft.llm.TextIndex.write(docs, "doc_id", "text", tidx, nBuckets = 16)
    val emb = Tables.embeddings(spark, sf)
    val vidx = java.nio.file.Files.createTempDirectory("graft-srv-ivf").toString
    graft.llm.IvfIndex.write(emb, "vec_id", "embedding", vidx, numCentroids = 8)
    val srv = new graft.serve.SearchServer(spark, Some(tidx), Some(vidx))
    srv.start()
    try {
      val port = srv.boundPort
      // lexical: the wire ranking equals the direct pruned probe
      val direct = graft.llm.TextIndex.probe(spark, tidx,
        Seq("scan", "filter", "spark"), 5).collect()
      val r = get(port, "/search?terms=scan,filter,spark&k=5")
      assert(r.statusCode() == 200)
      assert(r.body().startsWith(
        s"""{"hits":[{"rank":1,"doc":${direct(0).getLong(1)}"""),
        s"top hit must match the direct probe: ${r.body().take(120)}")
      assert(r.body().split("\\{\"rank\"").length - 1 == direct.length)
      // ANN: probing with vector 7's own embedding returns it at rank 1
      val v = emb.filter(col("vec_id") === 7)
        .select("embedding").collect()(0).getSeq[Float](0)
      val a = get(port, s"/ann?vec=${v.map(_.toDouble).mkString(",")}&k=3&nProbe=4")
      assert(a.statusCode() == 200)
      assert(a.body().contains(""""nid":7"""), s"self-query must hit: ${a.body().take(200)}")
      assert(a.body().startsWith("""{"hits":[{"rank":1,"""))
      // scorer families over the same index: QL route equals the
      // direct LM probe; unknown scorer is a 400
      val qlDirect = graft.llm.TextIndex.probeQl(spark, tidx,
        Seq("scan", "filter", "spark"), k = 5).collect()
      val rql = get(port, "/search?terms=scan,filter,spark&k=5&scorer=ql")
      assert(rql.statusCode() == 200)
      assert(rql.body().startsWith(
        s"""{"hits":[{"rank":1,"doc":${qlDirect(0).getLong(1)}"""),
        s"QL top hit must match the direct probe: ${rql.body().take(120)}")
      assert(get(port, "/search?terms=scan&scorer=zzz").statusCode() == 400)
      // PRF expansion serves too (shape check: still a ranked list)
      val rex = get(port, "/search?terms=scan&k=5&expand=2")
      assert(rex.statusCode() == 200 && rex.body().startsWith("""{"hits":[{"rank":1"""))
      // error contract
      assert(get(port, "/search").statusCode() == 400)
      assert(get(port, "/search?terms=").statusCode() == 400)
      assert(get(port, "/ann?vec=abc").statusCode() == 400)
      assert(get(port, "/ann").statusCode() == 400)
      // malformed numeric params are CLIENT errors (400, never 500):
      // non-numeric, non-positive k/nProbe, negative expand (ADVICE r8)
      assert(get(port, "/search?terms=scan&k=abc").statusCode() == 400)
      assert(get(port, "/search?terms=scan&k=0").statusCode() == 400)
      assert(get(port, "/search?terms=scan&expand=-1").statusCode() == 400)
      assert(get(port, "/ann?vec=1.0,2.0&k=zz").statusCode() == 400)
      assert(get(port, "/ann?vec=1.0,2.0&nProbe=-3").statusCode() == 400)
      // expand=0 stays the plain-probe default, not an error
      assert(get(port, "/search?terms=scan&expand=0").statusCode() == 200)
    } finally srv.stop()
  }

  test("search server with only one index: the other route answers 400, not 500") {
    val sf = "/root/testdata/sf0.001"
    val tidx = java.nio.file.Files.createTempDirectory("graft-srv-only").toString
    graft.llm.TextIndex.write(Tables.documents(spark, sf), "doc_id", "text", tidx, nBuckets = 8)
    val srv = new graft.serve.SearchServer(spark, Some(tidx), None)
    srv.start()
    try {
      val port = srv.boundPort
      assert(get(port, "/ann?vec=1.0,2.0").statusCode() == 400)
      assert(get(port, "/search?terms=scan").statusCode() == 200)
    } finally srv.stop()
  }
}
