package graft.api

import scala.collection.mutable
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One registered stream/table: the KSQL metastore entry analogue.
  *
  * @param df      the (batch or streaming) DataFrame, WITH pseudo-columns
  * @param keyCol  source column the ROWKEY pseudo-column was derived from
  * @param timeCol source column the ROWTIME pseudo-column was derived from
  */
case class StreamDef(df: DataFrame, keyCol: Option[String], timeCol: Option[String])

/** Stream registry + CSAS surface — the Spark-first re-expression of KSQL's
  * metastore and `CREATE STREAM ... AS SELECT` (reference entry point:
  * `KsqlContext.sql`, exercised at
  * `StreamsSelectAndProjectIntTest.java:174-344`).
  *
  * Design: a registered stream is a temp view whose schema always carries the
  * KSQL pseudo-columns `ROWKEY` (record key) and `ROWTIME` (event time as
  * epoch millis, reference `ConnectSourceConsumer.java:270-276`), so SQL over
  * the view can select/alias/filter them like any column (P6-P9). Works
  * identically for batch and streaming DataFrames — Catalyst plans are
  * mode-agnostic, which is what lets the driver's DuckDB oracle check the
  * same pipelines in batch.
  *
  * Scale note: pseudo-columns are pure per-row projections (no shuffle); a
  * CSAS is `spark.sql` over the views, so Catalyst pushdown/pruning applies
  * through the registry unchanged.
  */
class StreamRegistry(spark: SparkSession,
    registry: Option[graft.serde.SchemaRegistryClient] = None) {
  private val defs = mutable.Map[String, StreamDef]()
  private val topicFrames = mutable.Map[String, DataFrame]()

  /** Register a raw TOPIC frame (the [[graft.sources.Kafka.envelopeSchema]]
    * shape — at minimum a `value` column; `timestamp` feeds ROWTIME when
    * present) so explicit-schema source DDL can resolve it. The engine's
    * analogue of a topic existing on the broker.
    */
  def registerTopic(topic: String, df: DataFrame): Unit =
    topicFrames(topic.toLowerCase) = df

  /** Register a stream with explicit key/time columns; projects ROWKEY and
    * ROWTIME pseudo-columns (epoch-ms long, KSQL's ROWTIME type).
    */
  def createStream(
      name: String,
      df: DataFrame,
      keyCol: Option[String] = None,
      timeCol: Option[String] = None,
      timeIsEpochMs: Boolean = false): DataFrame = {
    val rowkey: Column = keyCol.map(col).getOrElse(lit(null))
    val rowtime: Column = timeCol match {
      case Some(t) if timeIsEpochMs => col(t).cast("long")
      // parquet ms-timestamps read as TIMESTAMP_NTZ; session TZ is UTC so
      // the cast to TIMESTAMP is value-preserving and unix_millis applies
      case Some(t)                  => unix_millis(col(t).cast("timestamp"))
      case None                     => lit(null).cast("long")
    }
    val out = df
      .withColumn("ROWKEY", rowkey)
      .withColumn("ROWTIME", rowtime)
    out.createOrReplaceTempView(name)
    defs(name) = StreamDef(out, keyCol, timeCol)
    out
  }

  /** CSAS: `CREATE STREAM name AS <sql>` with optional timestamp
    * reassignment (`WITH (timestamp='col')`, P12 — reference
    * `StreamsSelectAndProjectIntTest.java:174-209`): the derived stream's
    * ROWTIME is re-derived from `timestampCol` (an epoch-ms bigint column of
    * the result, as in KSQL), replacing the inherited one.
    */
  def createStreamAs(name: String, sql: String, timestampCol: Option[String] = None): DataFrame = {
    val result = spark.sql(sql)
    val out = timestampCol match {
      case Some(tc) => result.withColumn("ROWTIME", col(tc).cast("long"))
      case None     => result
    }
    // KSQL contract: a derived stream still CARRIES its pseudo-columns
    // even when the projection aliases them away — the reference's chained
    // CSAS selects ROWKEY from a stream whose projection renamed it to
    // RKEY (StreamsSelectAndProjectIntTest.java:179-185). The registered
    // VIEW (what downstream statements query) restores missing
    // ROWKEY/ROWTIME; the RETURNED frame stays exactly the user's
    // projection — KSQL's value schema vs queryable pseudo-column split.
    restorePseudoCols(sql, out, timestampCol).createOrReplaceTempView(name)
    val key = if (out.columns.contains("ROWKEY")) Some("ROWKEY") else None
    defs(name) = StreamDef(out, key, timestampCol)
    out
  }

  /** Re-run a CSAS select with the source's ROWKEY/ROWTIME injected into
    * the projection, so the derived VIEW keeps the pseudo-columns the
    * user's select dropped. Select-project-filter surface only (CSAS has
    * no DISTINCT/GROUP BY); anything unresolvable (e.g. an ambiguous
    * ROWKEY over a join) falls back to the plain result.
    */
  private def restorePseudoCols(sql: String, out: DataFrame,
      timestampCol: Option[String]): DataFrame = {
    if (out.columns.contains("ROWKEY") && out.columns.contains("ROWTIME")) return out
    val trimmed = sql.trim
    val upper = trimmed.toUpperCase(java.util.Locale.ROOT)
    if (!upper.startsWith("SELECT") || upper.startsWith("SELECT DISTINCT")) return out
    try {
      var v = spark.sql("SELECT ROWKEY AS __graft_rk, ROWTIME AS __graft_rt, " +
        trimmed.substring("SELECT".length))
      if (!v.columns.contains("ROWKEY")) v = v.withColumn("ROWKEY", col("__graft_rk"))
      v = timestampCol match {
        // a WITH (timestamp='col') reassignment wins over the inherited one
        case Some(tc) => v.withColumn("ROWTIME", col(tc).cast("long"))
        case None if !v.columns.contains("ROWTIME") =>
          v.withColumn("ROWTIME", col("__graft_rt"))
        case None => v
      }
      v.drop("__graft_rk", "__graft_rt")
    } catch {
      case _: org.apache.spark.sql.AnalysisException => out
    }
  }

  /** CTAS: `CREATE TABLE name AS <sql>` — the KSQL table analogue. An
    * aggregated SELECT is already a changelog table (one row per grouping
    * key) and registers as-is; a stream-shaped result (carries ROWKEY +
    * ROWTIME) materializes as latest-row-per-key by ROWTIME — the KTable
    * compaction contract (same semantics as the a3_latest_per_key op),
    * ROWTIME ties broken by full-row ordering. The same max_by aggregation
    * runs in update mode over a streaming frame.
    */
  def createTableAs(name: String, sql: String, timestampCol: Option[String] = None): DataFrame = {
    val result = spark.sql(sql)
    val withTs = timestampCol match {
      case Some(tc) => result.withColumn("ROWTIME", col(tc).cast("long"))
      case None     => result
    }
    val cols = withTs.columns
    val out =
      if (cols.contains("ROWKEY") && cols.contains("ROWTIME")) {
        val rest = cols.filterNot(_ == "ROWKEY").toSeq
        val ord = struct((col("ROWTIME") +: rest.filterNot(_ == "ROWTIME").map(col)): _*)
        withTs.groupBy("ROWKEY")
          .agg(max_by(struct(rest.map(col): _*), ord).as("__t"))
          .select(col("ROWKEY") +: rest.map(c => col(s"__t.$c").as(c)): _*)
      } else withTs
    out.createOrReplaceTempView(name)
    defs(name) = StreamDef(out,
      if (out.columns.contains("ROWKEY")) Some("ROWKEY") else None, timestampCol)
    out
  }

  def stream(name: String): StreamDef = defs(name)
  def names: Seq[String] = defs.keys.toSeq.sorted

  /** Textual entry point — the KSQL statement surface
    * (`ksqlContext.sql(...)`, reference
    * `StreamsSelectAndProjectIntTest.java:174-344`):
    * `CREATE STREAM name [WITH (timestamp='col', ...)] AS SELECT ...;`
    * Other WITH options (kafka_topic, value_format) belong to the
    * source/sink adapters and are accepted-and-ignored here. Non-CSAS
    * statements pass through to `spark.sql`.
    *
    * Statements are tokenized by [[CsasParser]] (quoted literals, `''`
    * escapes, per-pair options — not a regex), so option values may contain
    * `)`/commas/`timestamp=` text freely; a malformed CREATE STREAM fails
    * here with the offending position instead of confusing Spark's parser.
    */
  def sql(statement: String): DataFrame = {
    val stmts = StreamRegistry.splitStatements(statement)
    require(stmts.nonEmpty, "empty SQL script")
    // multi-statement scripts execute in order (the reference issues two
    // CSAS statements in ONE string — StreamsSelectAndProjectIntTest
    // .java:179-185); the LAST statement's frame is returned, matching the
    // reference's run-then-query-the-last-stream usage
    stmts.map(sqlOne).last
  }

  private def sqlOne(statement: String): DataFrame = CsasParser.parse(statement) match {
    case Some(c: CsasParser.Csas) if c.table =>
      createTableAs(c.name, c.select, c.options.get("timestamp"))
    case Some(c: CsasParser.Csas) =>
      createStreamAs(c.name, c.select, c.options.get("timestamp"))
    case Some(d: CsasParser.SourceDdl) =>
      createSourceStream(d.name, d.columns, d.options)
    case None => spark.sql(statement)
  }

  /** KSQL column type → Spark DDL type (recursive for array/map). */
  private def sparkType(ksql: String): String = {
    val t = ksql.trim.toLowerCase
    def inner(prefix: String): String = t.substring(prefix.length, t.length - 1)
    if (t.startsWith("array<") && t.endsWith(">"))
      s"array<${sparkType(inner("array<"))}>"
    else if (t.startsWith("map<") && t.endsWith(">")) {
      val body = inner("map<")
      // split at the top-level comma (key type is scalar in KSQL, but
      // walk depth anyway so nested generics can't confuse the split)
      var depth = 0
      val cut = body.indices.find { j =>
        body.charAt(j) match {
          case '<' => depth += 1; false
          case '>' => depth -= 1; false
          case ',' => depth == 0
          case _ => false
        }
      }.getOrElse(throw new IllegalArgumentException(s"malformed map type: $ksql"))
      s"map<${sparkType(body.substring(0, cut))},${sparkType(body.substring(cut + 1))}>"
    } else t match {
      case "varchar" | "string" => "string"
      case "bigint" | "long" => "bigint"
      case "int" | "integer" => "int"
      case "double" => "double"
      case "boolean" | "bool" => "boolean"
      case other => throw new IllegalArgumentException(
        s"unsupported KSQL column type '$other'")
    }
  }

  /** Explicit-schema source DDL (reference
    * `DatabaseSelectAndProjectIntTest.java:269-281`): resolve the topic's
    * raw envelope frame ([[registerTopic]]), decode `value` per
    * `value_format` against the DECLARED schema, and register the stream
    * with `key=` as ROWKEY and the envelope timestamp as ROWTIME.
    *
    *  - JSON: `from_json` with the declared struct (a field the payload
    *    lacks is null; malformed rows null every field — P13's tolerance)
    *  - DELIMITED: positional comma split, each slot cast to its declared
    *    type (scalar columns only — the format can't carry array/map)
    *  - AVRO: registry-framed decode ([[graft.serde.AvroCodec.decodeFramed]]
    *    under subject `<topic>-value`) — requires this registry to be
    *    constructed with a [[graft.serde.SchemaRegistryClient]]
    */
  def createSourceStream(name: String, columns: Seq[(String, String)],
      options: Map[String, String]): DataFrame = {
    require(columns.nonEmpty, s"CREATE STREAM $name: empty column list")
    val topic = options.getOrElse("kafka_topic", name).toLowerCase
    val raw = topicFrames.getOrElse(topic, throw new IllegalArgumentException(
      s"unknown topic '$topic' — registerTopic(...) it before CREATE STREAM $name"))
    // decode against LOWERCASED field names and alias back to the declared
    // spelling: Spark's from_json and Avro schema resolution match field
    // names case-SENSITIVELY (verified — spark.sql.caseSensitive does not
    // apply), while KSQL identifiers are case-insensitive and the
    // reference's payload keys are lowercase
    val ddl = columns.map { case (n, t) => s"`${n.toLowerCase}` ${sparkType(t)}" }
      .mkString(", ")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(ddl)
    val fmt = options.getOrElse("value_format", "JSON").toUpperCase
    val decoded = fmt match {
      case "JSON" =>
        raw.withColumn("__v", from_json(col("value").cast("string"), schema))
          .select(columns.map { case (n, _) => col(s"__v.`${n.toLowerCase}`").as(n) } ++
            (if (raw.columns.contains("timestamp")) Seq(col("timestamp")) else Nil): _*)
      case "DELIMITED" =>
        val parts = split(col("value").cast("string"), ",")
        raw.select(columns.zipWithIndex.map { case ((n, t), idx) =>
          val st = sparkType(t)
          require(!st.contains("<"),
            s"DELIMITED cannot carry column '$n' of type $t")
          element_at(parts, idx + 1).cast(st).as(n)
        } ++ (if (raw.columns.contains("timestamp")) Seq(col("timestamp")) else Nil): _*)
      case "AVRO" =>
        // decodeFramed yields exactly the declared columns, so the
        // envelope timestamp does not survive this path — ROWTIME comes
        // from the WITH (timestamp='col') reassignment or stays null
        val reg = registry.getOrElse(throw new IllegalArgumentException(
          s"value_format='AVRO' for $name needs a SchemaRegistryClient — " +
            "construct StreamRegistry(spark, Some(registry))"))
        graft.serde.AvroCodec.decodeFramed(raw, "value", schema,
            reg, s"$topic-value")
          .select(columns.map { case (n, _) => col(s"`${n.toLowerCase}`").as(n) }: _*)
      case other => throw new IllegalArgumentException(
        s"unsupported value_format '$other' (JSON, DELIMITED, AVRO)")
    }
    val hasEnvTs = decoded.columns.contains("timestamp")
    // ROWTIME: explicit WITH (timestamp='col') reassignment (an epoch-ms
    // bigint DECLARED column, KSQL semantics) wins; else the envelope
    // timestamp; else null
    val rowtime: Column = options.get("timestamp") match {
      case Some(tc) =>
        require(columns.exists(_._1.equalsIgnoreCase(tc)),
          s"timestamp column '$tc' is not among $name's declared columns")
        col(tc).cast("long")
      case None if hasEnvTs => unix_millis(col("timestamp").cast("timestamp"))
      case None => lit(null).cast("long")
    }
    options.get("key").foreach { k =>
      require(columns.exists(_._1.equalsIgnoreCase(k)),
        s"key column '$k' is not among $name's declared columns")
    }
    val out = decoded
      .withColumn("ROWKEY", options.get("key").map(col).getOrElse(lit(null)))
      .withColumn("ROWTIME", rowtime)
      .drop("timestamp")
    out.createOrReplaceTempView(name)
    defs(name) = StreamDef(out, options.get("key"),
      options.get("timestamp").orElse(if (hasEnvTs) Some("timestamp") else None))
    out
  }
}

object StreamRegistry {

  /** Split a KSQL script into statements at TOP-LEVEL semicolons —
    * semicolons inside `'...'` string literals (with KSQL's `''` escape),
    * `"..."` quoted identifiers, backtick identifiers, `-- line` comments,
    * or bracketed comments do not split. Empty fragments (a trailing `;`,
    * blank lines between statements) are dropped. A lexer walk, not a
    * regex: option values like `WITH (fmt='a;b')` must survive intact.
    */
  private[graft] def splitStatements(script: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    val cur = new StringBuilder
    var quote: Char = 0     // 0 = top level, else the active quote char
    var lineComment = false
    var blockComment = false
    var i = 0
    while (i < script.length) {
      val c = script.charAt(i)
      if (lineComment) {
        cur.append(c)
        if (c == '\n') lineComment = false
      } else if (blockComment) {
        cur.append(c)
        if (c == '*' && i + 1 < script.length && script.charAt(i + 1) == '/') {
          cur.append('/'); i += 1; blockComment = false
        }
      } else if (quote != 0) {
        cur.append(c)
        if (c == quote) {
          // KSQL escapes a quote by doubling it — '' inside '...' stays in
          if (quote == '\'' && i + 1 < script.length && script.charAt(i + 1) == '\'') {
            cur.append('\''); i += 1
          } else quote = 0
        }
      } else c match {
        case '\'' | '"' | '`' => quote = c; cur.append(c)
        case '-' if i + 1 < script.length && script.charAt(i + 1) == '-' =>
          lineComment = true; cur.append(c)
        case '/' if i + 1 < script.length && script.charAt(i + 1) == '*' =>
          blockComment = true; cur.append(c)
        case ';' => out += cur.result(); cur.clear()
        case _ => cur.append(c)
      }
      i += 1
    }
    out += cur.result()
    out.result().map(_.trim).filter(_.nonEmpty)
  }
}
