package graft

import java.lang.reflect.{InvocationHandler, InvocationTargetException, Method, Proxy}
import java.nio.file.Files
import java.sql.{Connection, Driver, DriverManager, DriverPropertyInfo, PreparedStatement, Statement}
import java.util.Properties

import org.apache.spark.sql.functions._
import graft.ops.Text
import graft.sinks.{JdbcSink, JdbcUpdateCountUnknownException}

/** DB-to-DB word count (SURVEY §2.1 S3+S8, reference
  * `DatabaseWordCountTest.java` with embedded Derby): JDBC incrementing
  * source → word count → idempotent JDBC upsert sink, asserting the golden
  * counts of `DatabaseWordCountTest.java:118-126`, plus incremental-read and
  * upsert-idempotence probes.
  */
class JdbcSpec extends SparkSpec {

  private val url = "jdbc:derby:memory:graftdb;create=true"

  private def exec(sql: String): Unit = {
    val c = DriverManager.getConnection(url)
    try { c.createStatement().execute(sql) } finally c.close()
  }
  private def query[A](sql: String)(f: java.sql.ResultSet => A): Vector[A] = {
    val c = DriverManager.getConnection(url)
    try {
      val rs = c.createStatement().executeQuery(sql)
      val b = Vector.newBuilder[A]
      while (rs.next()) b += f(rs)
      b.result()
    } finally c.close()
  }

  // DB fixture lines (FIXTURES.md F1, DB variant drops the apostrophe)
  private val lines = Seq(
    "To be, or not to be,--that is the question:--",
    "Whether tis nobler in the mind to suffer",
    "The slings and arrows of outrageous fortune",
    "Or to take arms against a sea of troubles,")

  test("DB-to-DB word count reproduces the reference goldens (S3/S8/J7 shape)") {
    exec("""CREATE TABLE WC_INPUT (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  lines VARCHAR(256))""".stripMargin)
    exec("CREATE TABLE WC_OUTPUT (word VARCHAR(256) NOT NULL PRIMARY KEY, cnt BIGINT)")
    lines.take(2).foreach(l => exec(s"INSERT INTO WC_INPUT (lines) VALUES ('$l')"))

    val src = spark.readStream
      .format("graft.sources.JdbcIncrementingSource")
      .schema("id INT, lines STRING")
      .option("url", url)
      .option("table", "WC_INPUT")
      .option("incrementingColumn", "id")
      .load()
    val counts = Text.wordCount(src.select(col("lines").as("text")), "text")
    val ckpt = Files.createTempDirectory("graft_jdbc_ckpt_").toString
    val q = JdbcSink.writeStream(counts, url, "WC_OUTPUT", Seq("word"), ckpt)
    try {
      awaitDrained(q)
      val mid = query("SELECT word, cnt FROM WC_OUTPUT")(rs => rs.getString(1) -> rs.getLong(2)).toMap
      assert(mid("to") === 3L)   // first two lines only

      // rows inserted AFTER the first poll are picked up incrementally
      lines.drop(2).foreach(l => exec(s"INSERT INTO WC_INPUT (lines) VALUES ('$l')"))
      awaitDrained(q)
      val fin = query("SELECT word, cnt FROM WC_OUTPUT")(rs => rs.getString(1) -> rs.getLong(2)).toMap
      // golden counts from DatabaseWordCountTest.java:118-126
      assert(fin("to") === 4L); assert(fin("be") === 2L); assert(fin("or") === 2L)
      assert(fin("the") === 3L); assert(fin("not") === 1L); assert(fin("that") === 1L)
      assert(fin("is") === 1L); assert(fin("question") === 1L); assert(fin("whether") === 1L)

      // incremental read: the second batch saw only the 2 new rows
      val progressRows = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(progressRows.forall(_ <= 2L), s"batches read ${progressRows.mkString(",")} rows")
    } finally q.stop()
  }

  test("bulk source re-scans the whole table, partitioned scan splits ranges (S2)") {
    exec("CREATE TABLE BULK_T (id INT NOT NULL, v VARCHAR(32))")
    (1 to 10).foreach(i => exec(s"INSERT INTO BULK_T VALUES ($i, 'v$i')"))
    val df = graft.sources.JdbcBulk.read(spark, url, "BULK_T")
    assert(df.count() === 10)
    val pdf = graft.sources.JdbcBulk.readPartitioned(spark, url, "BULK_T", "id", 1, 10, 3)
    assert(pdf.rdd.getNumPartitions === 3)
    assert(pdf.count() === 10)
  }

  test("DSv2 catalog pushes GROUP BY aggregates into the database (S2 scale path)") {
    exec("CREATE TABLE AGG_T (grp INT NOT NULL, v INT NOT NULL)")
    (1 to 30).foreach(i => exec(s"INSERT INTO AGG_T VALUES (${i % 3}, $i)"))
    graft.sources.JdbcBulk.registerCatalog(spark, "graftdb", url)
    try {
      val agg = spark.table("graftdb.APP.AGG_T")
        .groupBy("grp")
        .agg(org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("n"),
          org.apache.spark.sql.functions.max("v").as("mx"))
      val plan = agg.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      // the aggregation must compile INTO the JDBC query — one row per
      // group crosses the wire, not the table
      assert(plan.contains("PushedAggregates"), plan.take(1200))
      assert(plan.contains("PushedGroupByExpressions"), plan.take(1200))
      val rows = agg.orderBy("grp").collect()
        .map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))
      assert(rows.toSeq == Seq((0, 10L, 30), (1, 10L, 28), (2, 10L, 29)))
    } finally exec("DROP TABLE AGG_T")
  }

  test("upsert sink is idempotent under batch replay (at-least-once -> exact table)") {
    exec("CREATE TABLE UP_OUT (k VARCHAR(64) NOT NULL PRIMARY KEY, v BIGINT)")
    import spark.implicits._
    val batch = Seq(("a", 1L), ("b", 2L)).toDF("k", "v")
    JdbcSink.upsertBatch(batch, url, "UP_OUT", Seq("k"))
    JdbcSink.upsertBatch(batch, url, "UP_OUT", Seq("k"))   // replay
    val rows = query("SELECT k, v FROM UP_OUT ORDER BY k")(rs => (rs.getString(1), rs.getLong(2)))
    assert(rows === Vector(("a", 1L), ("b", 2L)))
    // and an update wins over the stale row
    JdbcSink.upsertBatch(Seq(("a", 10L)).toDF("k", "v"), url, "UP_OUT", Seq("k"))
    assert(query("SELECT v FROM UP_OUT WHERE k = 'a'")(_.getLong(1)) === Vector(10L))
  }

  test("DB-to-DB flatMap: 1->N token rows appended (DatabaseFlatMapTest shape)") {
    exec("""CREATE TABLE FM_INPUT (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  lines VARCHAR(256))""".stripMargin)
    exec("""CREATE TABLE FM_OUTPUT (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  word VARCHAR(256))""".stripMargin)
    lines.foreach(l => exec(s"INSERT INTO FM_INPUT (lines) VALUES ('$l')"))
    val src = spark.readStream.format("graft.sources.JdbcIncrementingSource")
      .schema("id INT, lines STRING")
      .option("url", url).option("table", "FM_INPUT")
      .option("incrementingColumn", "id").load()
    val toks = src.select(explode(graft.ops.Text.tokens(col("lines"))).as("word"))
    val q = toks.writeStream.outputMode("append")
      .option("checkpointLocation", Files.createTempDirectory("graft_fm_ckpt_").toString)
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        JdbcSink.appendBatch(b, url, "FM_OUTPUT")
      }.start()
    try {
      awaitDrained(q)
      // 4 fixture lines tokenize to 34 words (reference waits for >= 26)
      assert(query("SELECT count(*) FROM FM_OUTPUT")(_.getLong(1)) === Vector(34L))
      assert(query("SELECT count(*) FROM FM_OUTPUT WHERE word = 'to'")(_.getLong(1)) === Vector(4L))
    } finally q.stop()
  }

  test("maxRowsPerTrigger bounds each micro-batch (S4 admission control)") {
    exec("""CREATE TABLE ADM_INPUT (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  lines VARCHAR(256))""".stripMargin)
    (1 to 10).foreach(i => exec(s"INSERT INTO ADM_INPUT (lines) VALUES ('row $i')"))
    val src = spark.readStream.format("graft.sources.JdbcIncrementingSource")
      .schema("id INT, lines STRING")
      .option("url", url).option("table", "ADM_INPUT")
      .option("incrementingColumn", "id")
      .option("maxRowsPerTrigger", "3").load()
    val q = src.writeStream.format("memory").queryName("adm_sink")
      .outputMode("append").start()
    try {
      awaitDrained(q)
      assert(spark.table("adm_sink").count() === 10)
      val sizes = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      assert(sizes.nonEmpty && sizes.forall(_ <= 3L), sizes.mkString(","))
    } finally q.stop()
  }

  test("rate-capped source advances across id gaps wider than the cap") {
    exec("CREATE TABLE GAP_INPUT (id INT NOT NULL, lines VARCHAR(64))")
    // ids start far beyond startingOffset + cap
    exec("INSERT INTO GAP_INPUT VALUES (5000, 'alpha'), (5001, 'beta')")
    val src = spark.readStream.format("graft.sources.JdbcIncrementingSource")
      .schema("id INT, lines STRING")
      .option("url", url).option("table", "GAP_INPUT")
      .option("incrementingColumn", "id")
      .option("maxRowsPerTrigger", "100").load()
    val q = src.writeStream.format("memory").queryName("gap_sink")
      .outputMode("append").start()
    try {
      awaitDrained(q)
      assert(spark.table("gap_sink").count() === 2)
    } finally q.stop()
  }

  test("upsert tolerates duplicate keys within one batch (last-writer dedup)") {
    exec("CREATE TABLE DUP_OUT (k VARCHAR(64) NOT NULL PRIMARY KEY, v BIGINT)")
    import spark.implicits._
    val batch = Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("k", "v")
    JdbcSink.upsertBatch(batch, url, "DUP_OUT", Seq("k"))   // must not PK-violate
    val rows = query("SELECT k FROM DUP_OUT ORDER BY k")(_.getString(1))
    assert(rows === Vector("a", "b"))
  }

  test("versionCol survivor: max version wins, version TIES break deterministically") {
    exec("CREATE TABLE VER_OUT (k VARCHAR(64) NOT NULL PRIMARY KEY, ver BIGINT, v VARCHAR(64))")
    import spark.implicits._
    // two rows share key 'a' AND version 2 — the survivor must be the one
    // whose remaining columns order highest ('zz'), not an arbitrary winner
    val batch = Seq(("a", 2L, "aa"), ("a", 2L, "zz"), ("a", 1L, "old"), ("b", 1L, "b1"))
      .toDF("k", "ver", "v")
    JdbcSink.upsertBatch(batch, url, "VER_OUT", Seq("k"), versionCol = Some("ver"))
    val rows = query("SELECT k, v FROM VER_OUT ORDER BY k")(rs => (rs.getString(1), rs.getString(2)))
    assert(rows === Vector(("a", "zz"), ("b", "b1")))
    // the internal struct alias is reserved, not silently shadowed
    intercept[IllegalArgumentException] {
      JdbcSink.upsertBatch(batch.withColumnRenamed("v", "__graft_upsert_row"),
        url, "VER_OUT", Seq("k"), versionCol = Some("ver"))
    }
  }

  test("missing schema fails fast with a clear message") {
    val e = intercept[Exception] {
      spark.readStream.format("graft.sources.JdbcIncrementingSource")
        .option("url", url).option("table", "WC_INPUT")
        .option("incrementingColumn", "id").load()
    }
    assert(e.getMessage.contains("schema"))
  }

  test("DB select/project: textual CSAS over the JDBC stream (DatabaseSelectAndProjectIntTest shape)") {
    exec("""CREATE TABLE ORDERS_DB (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  ordertime BIGINT, orderid VARCHAR(64), itemid VARCHAR(64), orderunits DOUBLE)""".stripMargin)
    // the 8-row SimpleOrderDataProvider fixture (ORDERUNITS = i*10)
    (1 to 8).foreach(i =>
      exec(s"INSERT INTO ORDERS_DB (ordertime, orderid, itemid, orderunits) " +
        s"VALUES ($i, 'ORDER_$i', 'ITEM_$i', ${i * 10}.0)"))
    val src = spark.readStream.format("graft.sources.JdbcIncrementingSource")
      .schema("id INT, ordertime BIGINT, orderid STRING, itemid STRING, orderunits DOUBLE")
      .option("url", url).option("table", "ORDERS_DB")
      .option("incrementingColumn", "id").load()
    val reg = new graft.api.StreamRegistry(spark)
    reg.createStream("orders_db", src, keyCol = Some("ordertime"),
      timeCol = Some("ordertime"), timeIsEpochMs = true)
    val filtered = reg.sql(
      "CREATE STREAM big_db AS SELECT ROWKEY, itemid, orderunits FROM orders_db WHERE orderunits > 40;")
    val got = scala.collection.concurrent.TrieMap[Long, String]()
    val q = filtered.writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        b.collect().foreach(r => got.put(r.getAs[Long]("ROWKEY"), r.getAs[String]("itemid")))
        ()
      }.start()
    try {
      awaitDrained(q)
      assert(got.size === 4)
      assert(got.keySet === Set(5L, 6L, 7L, 8L))
      assert(got(8L) === "ITEM_8")
    } finally q.stop()
  }

  test("source restarts from checkpointed offset (no re-read of old rows)") {
    exec("""CREATE TABLE CK_INPUT (
           |  id INT NOT NULL GENERATED ALWAYS AS IDENTITY (START WITH 1, INCREMENT BY 1),
           |  lines VARCHAR(256))""".stripMargin)
    exec("CREATE TABLE CK_OUTPUT (word VARCHAR(256) NOT NULL PRIMARY KEY, cnt BIGINT)")
    exec("INSERT INTO CK_INPUT (lines) VALUES ('alpha beta')")
    val ckpt = Files.createTempDirectory("graft_jdbc_ckpt2_").toString

    def start() = JdbcSink.writeStream(
      Text.wordCount(
        spark.readStream.format("graft.sources.JdbcIncrementingSource")
          .schema("id INT, lines STRING")
          .option("url", url).option("table", "CK_INPUT")
          .option("incrementingColumn", "id").load()
          .select(col("lines").as("text")), "text"),
      url, "CK_OUTPUT", Seq("word"), ckpt)

    val q1 = start()
    try awaitDrained(q1) finally q1.stop()
    exec("INSERT INTO CK_INPUT (lines) VALUES ('alpha gamma')")
    val q2 = start()
    try {
      awaitDrained(q2)
      val fin = query("SELECT word, cnt FROM CK_OUTPUT")(rs => rs.getString(1) -> rs.getLong(2)).toMap
      assert(fin("alpha") === 2L && fin("beta") === 1L && fin("gamma") === 1L)
      // restarted query's batches never exceeded the new rows
      assert(q2.recentProgress.map(_.numInputRows).filter(_ > 0).forall(_ <= 1L))
    } finally q2.stop()
  }

  /** Rows per key found by a forced table scan, not through the key's index. */
  private def scannedRowsPerKey(table: String, keyCols: String): Vector[Long] =
    query(s"SELECT COUNT(*) FROM $table --DERBY-PROPERTIES index=null\nGROUP BY $keyCols")(
      _.getLong(1))

  test("overlapping upsert batches leave exactly one row per key, by a forced table scan") {
    exec("CREATE TABLE SCAN_OUT (k VARCHAR(64) NOT NULL PRIMARY KEY, v BIGINT)")
    import spark.implicits._
    // batch b writes keys [40b, 40b + 100) with value b: each batch updates
    // 60 keys of the previous one and inserts 40, from 4 concurrent partitions
    (0 until 6).foreach { b =>
      val batch = (b * 40 until b * 40 + 100).map(i => (f"k$i%03d", b.toLong)).toDF("k", "v")
        .repartition(4)
      JdbcSink.upsertBatch(batch, url, "SCAN_OUT", Seq("k"))
    }
    val perKey = scannedRowsPerKey("SCAN_OUT", "k")
    assert(perKey.size === 300 && perKey.forall(_ == 1L), s"rows per key: ${perKey.filter(_ != 1L)}")
    val rows = query("SELECT k, v FROM SCAN_OUT")(rs => rs.getString(1) -> rs.getLong(2)).toMap
    assert(rows === (0 until 300).map(i => f"k$i%03d" -> math.min(i / 40, 5).toLong).toMap)
  }

  test("a table whose columns are all key columns still upserts") {
    exec("CREATE TABLE KEYS_OUT (a VARCHAR(16) NOT NULL, b INT NOT NULL, PRIMARY KEY (a, b))")
    import spark.implicits._
    JdbcSink.upsertBatch(Seq(("x", 1), ("y", 2)).toDF("a", "b"), url, "KEYS_OUT", Seq("a", "b"))
    JdbcSink.upsertBatch(Seq(("x", 1), ("z", 3)).toDF("a", "b"), url, "KEYS_OUT", Seq("a", "b"))
    assert(query("SELECT a, b FROM KEYS_OUT ORDER BY a")(rs => rs.getString(1) -> rs.getInt(2)) ===
      Vector("x" -> 1, "y" -> 2, "z" -> 3))
    assert(scannedRowsPerKey("KEYS_OUT", "a, b").forall(_ == 1L))
  }

  test("a driver that reports SUCCESS_NO_INFO fails the upsert by name and rolls it back") {
    exec("CREATE TABLE NOINFO_OUT (k VARCHAR(64) NOT NULL PRIMARY KEY, v BIGINT)")
    exec("INSERT INTO NOINFO_OUT VALUES ('a', 1)")
    DriverManager.registerDriver(JdbcSpec.NoInfoDriver)
    import spark.implicits._
    val e = intercept[Exception] {
      JdbcSink.upsertBatch(Seq(("a", 5L), ("b", 2L)).toDF("k", "v").coalesce(1),
        JdbcSpec.NoInfoDriver.Prefix + url.stripPrefix("jdbc:"), "NOINFO_OUT", Seq("k"))
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(_.isInstanceOf[JdbcUpdateCountUnknownException]), e.toString)
    assert(query("SELECT k, v FROM NOINFO_OUT")(rs => rs.getString(1) -> rs.getLong(2)) ===
      Vector("a" -> 1L), "the partition's UPDATE was rolled back")
  }
}

object JdbcSpec {
  /** A JDBC driver for `jdbc:graft-noinfo:<url without jdbc:>` that delegates
    * to the underlying driver but answers every batched UPDATE with
    * `Statement.SUCCESS_NO_INFO`, as some drivers do.
    */
  object NoInfoDriver extends Driver {
    val Prefix = "jdbc:graft-noinfo:"
    private def proxy[A](iface: Class[A], target: AnyRef)(
        around: (Method, Array[AnyRef], () => AnyRef) => AnyRef): A =
      iface.cast(Proxy.newProxyInstance(getClass.getClassLoader, Array[Class[_]](iface),
        new InvocationHandler {
          override def invoke(p: AnyRef, m: Method, args: Array[AnyRef]): AnyRef =
            around(m, args, () =>
              try m.invoke(target, Option(args).getOrElse(Array.empty[AnyRef]): _*)
              catch { case e: InvocationTargetException => throw e.getCause })
        }))

    override def connect(url: String, info: Properties): Connection =
      if (!acceptsURL(url)) null
      else proxy(classOf[Connection],
          DriverManager.getConnection("jdbc:" + url.stripPrefix(Prefix))) { (m, args, call) =>
        val r = call()
        if (m.getName == "prepareStatement" && args(0).toString.startsWith("UPDATE"))
          proxy(classOf[PreparedStatement], r) { (m, _, call) =>
            val counts = call()
            if (m.getName != "executeBatch") counts
            else Array.fill(counts.asInstanceOf[Array[Int]].length)(Statement.SUCCESS_NO_INFO)
          }
        else r
      }
    override def acceptsURL(url: String): Boolean = url.startsWith(Prefix)
    override def getPropertyInfo(url: String, info: Properties): Array[DriverPropertyInfo] =
      Array.empty
    override def getMajorVersion: Int = 1
    override def getMinorVersion: Int = 0
    override def jdbcCompliant(): Boolean = false
    override def getParentLogger: java.util.logging.Logger =
      java.util.logging.Logger.getLogger("graft.noinfo")
  }
}
