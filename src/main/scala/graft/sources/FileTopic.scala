package graft.sources

import java.io.InputStream
import java.nio.{ByteBuffer, CharBuffer}
import java.nio.channels.{Channels, FileChannel}
import java.nio.charset.CodingErrorAction
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, NoSuchFileException, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.nio.file.attribute.BasicFileAttributes
import java.util

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.core.{JsonFactory, JsonParser, JsonToken}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReportsSourceMetrics}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** "File-topic": a DataSource V2 micro-batch source/sink that serves the
  * EXACT Kafka record envelope ([[Kafka.envelopeSchema]]) from local JSONL
  * segment files — so the full
  * `readStream.format("file-topic").load() → decode → sink` path executes
  * through a REAL provider lookup (registered via `DataSourceRegister` +
  * META-INF/services, the same registry `format("kafka")` resolves
  * through). The Kafka connector jar is absent from this environment; this
  * provider exercises every seam around it (lookup, fixed source schema,
  * offset tracking, admission control, streaming write) with identical
  * downstream column logic.
  *
  * Topic model: a directory of `<topic>-<partition>[.segment].jsonl` files;
  * each line is one record `{"key": s|null, "value": s, "timestamp": ms,
  * "headers": [{"key": k, "value": v}]}` (text payloads; binary columns are
  * the UTF-8 bytes). Files are append-only logs: the stream offset is the
  * per-file count of `\n`-terminated lines, so appended lines become the
  * next micro-batch, replayable from the checkpoint like any DSv2 offset. A
  * last line still missing its `\n` is not counted, so a record that is
  * half appended is never served. Emitted record offsets are
  * `segment_index << 32 | line`, unique and monotone per (topic,
  * partition) across segment files — Kafka's per-partition offset contract.
  * A partition's segments are indexed in append order: by name, with the
  * epoch of the sink's `e<epoch>p<partitionId>` segments (and of the older
  * `e<epoch>t<taskId>` names) compared as a number.
  *
  * Each trigger costs what it serves, not the backlog: the stream scans only
  * the bytes appended since its last look and keeps a sparse line → byte
  * index, so readers seek to their first line. A segment that shrinks or is
  * replaced is rescanned; if it then holds fewer lines than were served,
  * the stream fails with [[FileTopicSegmentRewrittenException]].
  *
  * Options: `path` (required), `maxOffsetsPerTrigger` (admission control,
  * name-compatible with the Kafka source and split across partitions in
  * proportion to their lag, as Kafka's is), write side also `topic` and
  * `numPartitions` (key-hash partitioner, null keys → partition 0).
  */
class FileTopicSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "file-topic"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Kafka.envelopeSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new FileTopicTable(properties)
}

/** A segment file lost lines the stream had already counted (it shrank, or
  * was replaced by a shorter file): serving it would re-number records.
  */
class FileTopicSegmentRewrittenException(msg: String) extends IllegalStateException(msg)

private[sources] object FileTopic {
  def dir(options: java.util.Map[String, String]): Path = {
    val p = options.get("path")
    require(p != null && p.nonEmpty, "file-topic requires .option(\"path\", dir)")
    Paths.get(p)
  }

  /** `<topic>-<partition>` from a segment filename (before the first '.',
    * partition after the last '-').
    */
  def topicPartition(fileName: String): (String, Int) = {
    val stem = fileName.takeWhile(_ != '.')
    val cut = stem.lastIndexOf('-')
    require(cut > 0 && cut < stem.length - 1, s"not a <topic>-<partition> segment: $fileName")
    (stem.substring(0, cut), stem.substring(cut + 1).toInt)
  }

  private val SinkSegment = """([^.]*\.e)(\d+)([pt]\d+\.jsonl)""".r

  /** Sort key of a segment within its partition: the name, with a sink
    * segment's epoch zero-padded so `e10` follows `e9`. Other names, and
    * one epoch's files among themselves, keep plain name order, which is
    * the order checkpoints written before the padding already assume.
    */
  def appendOrder(fileName: String): String = fileName match {
    case SinkSegment(head, epoch, tail) => f"$head${epoch.toLong}%019d$tail"
    case _ => fileName
  }

  /** Each (topic, partition)'s segments in append order, partitions sorted. */
  def byPartition(files: Iterable[String]): Seq[((String, Int), Seq[String])] =
    files.toSeq.groupBy(topicPartition).toSeq.sortBy(_._1)
      .map { case (tp, fs) => tp -> fs.sortBy(appendOrder) }

  def segments(dir: Path): Seq[Path] =
    if (!Files.isDirectory(dir)) Seq.empty
    else {
      // Files.list holds an open DirectoryStream until closed — exhausting
      // the iterator does NOT release it, and this runs on every trigger
      val s = Files.list(dir)
      try s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".jsonl"))
        .toSeq.sortBy(p => appendOrder(p.getFileName.toString))
      finally s.close()
    }
}

private[sources] class FileTopicTable(props: util.Map[String, String])
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"file-topic(${props.get("path")})"
  override def schema(): StructType = Kafka.envelopeSchema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    () => new Scan {
      override def readSchema(): StructType = Kafka.envelopeSchema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new FileTopicStream(FileTopic.dir(options),
          options.getLong("maxOffsetsPerTrigger", Long.MaxValue))
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write = new FileTopicWrite(info.schema(), props)
    }
}

/** Offset = line count per segment file, JSON-stable (sorted keys). */
private[sources] case class FileLinesOffset(lines: Map[String, Long]) extends Offset {
  override def json(): String =
    lines.toSeq.sortBy(_._1)
      .map { case (f, n) => s"${FileLinesOffset.quote(f)}:$n" }
      .mkString("{\"files\":{", ",", "}}")
}

private[sources] object FileLinesOffset {
  def quote(s: String): String = {
    val m = new ObjectMapper
    m.writeValueAsString(m.getNodeFactory.textNode(s))
  }
  def fromJson(s: String): FileLinesOffset = {
    val node = new ObjectMapper().readTree(s).get("files")
    require(node != null, s"bad file-topic offset: $s")
    FileLinesOffset(node.properties().asScala
      .map(e => e.getKey -> e.getValue.asLong()).toMap)
  }
}

/** What the stream has scanned of one segment file: `lines` complete lines
  * end at byte `bytes`; `size` is the file size at the last look; `marks`
  * maps every [[SegmentCursor.MarkEvery]]-th line (and line 0) to the byte
  * it starts at. `fileKey` tells a replaced file from an appended one.
  */
private[sources] final class SegmentCursor(val fileKey: AnyRef) {
  var bytes = 0L
  var lines = 0L
  var size = 0L
  val marks = new util.TreeMap[java.lang.Long, java.lang.Long]()
  marks.put(0L, 0L)

  /** Count the `\n`-terminated lines in `[bytes, newSize)` of `path`. */
  def scan(path: Path, newSize: Long): Unit = {
    val ch = FileChannel.open(path, StandardOpenOption.READ)
    try {
      val buf = ByteBuffer.allocate(1 << 20)
      val a = buf.array()
      var pos = bytes
      var eof = false
      while (pos < newSize && !eof) {
        buf.clear()
        buf.limit(math.min(a.length.toLong, newSize - pos).toInt)
        val n = ch.read(buf, pos)
        if (n <= 0) eof = true
        else {
          var i = 0
          while (i < n) {
            if (a(i) == '\n') {
              lines += 1
              bytes = pos + i + 1
              if (lines % SegmentCursor.MarkEvery == 0) marks.put(lines, bytes)
            }
            i += 1
          }
          pos += n
        }
      }
    } finally ch.close()
    size = newSize
  }

  /** The closest mark at or before `line`: (line, byte). */
  def seek(line: Long): (Long, Long) = {
    val m = marks.floorEntry(line)
    (m.getKey, m.getValue)
  }

  /** Forget marks no batch can start from again (below the one at or
    * before the committed `line`).
    */
  def dropBelow(line: Long): Unit =
    marks.headMap(marks.floorKey(line), false).clear()
}

private[sources] object SegmentCursor {
  val MarkEvery = 4096L
}

private[sources] class FileTopicStream(dir: Path, maxOffsetsPerTrigger: Long)
    extends MicroBatchStream with ReportsSourceMetrics {

  override def initialOffset(): Offset = FileLinesOffset(Map.empty)

  /** High-water mark of offsets handed out (see JdbcIncMicroBatchStream:
    * latestOffset must advance past what was already served, not what was
    * committed, or a rate-capped stream re-serves its last window).
    */
  @volatile private var served: Map[String, Long] = Map.empty
  private def bump(o: FileLinesOffset): Unit = synchronized {
    served = (served.keySet ++ o.lines.keySet).map { f =>
      f -> math.max(served.getOrElse(f, 0L), o.lines.getOrElse(f, 0L))
    }.toMap
  }

  private val cursors = mutable.Map.empty[String, SegmentCursor]
  /** Line counts of the last `latestOffset` scan, for [[metrics]]. */
  @volatile private var available: Map[String, Long] = Map.empty

  /** Bring `file`'s cursor up to the file's current size. A file that
    * shrank or is a different file is rescanned from byte 0, and must still
    * hold every line already served.
    */
  private def refresh(file: String): Option[SegmentCursor] = synchronized {
    val path = dir.resolve(file)
    val attrs =
      try Some(Files.readAttributes(path, classOf[BasicFileAttributes]))
      catch { case _: NoSuchFileException => None }
    attrs.map { a =>
      val same = cursors.get(file).filter(c => c.fileKey == a.fileKey() && c.size <= a.size())
      val c = same.getOrElse {
        val fresh = new SegmentCursor(a.fileKey())
        cursors(file) = fresh
        fresh
      }
      if (c.size != a.size()) c.scan(path, a.size())
      val need = served.getOrElse(file, 0L)
      if (c.lines < need) throw new FileTopicSegmentRewrittenException(
        s"file-topic segment $path holds ${c.lines} complete lines, but $need were already " +
          "served: it was truncated or replaced, and its records cannot keep their offsets")
      c
    }
  }

  override def latestOffset(): Offset = synchronized {
    val listed = FileTopic.segments(dir).flatMap { p =>
      val f = p.getFileName.toString
      refresh(f).map(c => f -> c.lines)
    }.toMap
    // a file that vanished keeps its served count, so the segment indices
    // of the partition's later files (and their record offsets) stay put
    val avail = served ++ listed
    available = avail
    val o = FileLinesOffset(admit(avail))
    bump(o)
    o
  }

  /** Grant at most `maxOffsetsPerTrigger` new lines (the analogue of Kafka's
    * option), split across topic-partitions in proportion to their lag as
    * `KafkaMicroBatchStream.rateLimit` does: each gets the floor of its
    * share, and the remainder goes one line each to the partitions whose
    * share was 0, then to the rest, so the cap holds and no small partition
    * starves while the budget covers one line per partition.
    * Within a partition, earlier segments are granted first.
    */
  private def admit(avail: Map[String, Long]): Map[String, Long] = {
    val parts = FileTopic.byPartition(avail.keys).map(_._2)
    def lagOf(f: String) = math.max(avail(f) - served.getOrElse(f, 0L), 0L)
    val lags = parts.map(_.map(lagOf).sum)
    val total = lags.sum
    val shares =
      if (total <= maxOffsetsPerTrigger) lags
      else {
        val shares = lags.map(l => (BigInt(maxOffsetsPerTrigger) * l / total).toLong).toArray
        var extra = maxOffsetsPerTrigger - shares.sum
        shares.indices.sortBy(i => (shares(i) > 0, i)).foreach { i =>
          if (extra > 0 && shares(i) < lags(i)) { shares(i) += 1; extra -= 1 }
        }
        shares.toSeq
      }
    parts.zip(shares).flatMap { case (files, share) =>
      var budget = share
      files.map { f =>
        val from = served.getOrElse(f, 0L)
        val take = math.min(lagOf(f), budget)
        budget -= take
        f -> (from + take)
      }
    }.toMap
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = synchronized {
    val s = start.asInstanceOf[FileLinesOffset].lines
    val e = end.asInstanceOf[FileLinesOffset]
    bump(e)
    // segment indices derive from the offset's own file set, so a
    // checkpoint replay reproduces identical record offsets
    FileTopic.byPartition(e.lines.keys).flatMap { case ((topic, part), files) =>
      files.zipWithIndex.flatMap { case (f, i) =>
        val lo = s.getOrElse(f, 0L)
        val hi = e.lines(f)
        if (hi <= lo) None
        else {
          // a replayed batch can be planned before the first latestOffset:
          // build the cursor (and its index) here then
          val c = cursors.get(f).filter(_.lines >= hi).orElse(refresh(f))
            .filter(_.lines >= hi).getOrElse(throw new FileTopicSegmentRewrittenException(
              s"file-topic segment ${dir.resolve(f)} no longer holds line $hi of a planned batch"))
          val (markLine, markByte) = c.seek(lo)
          Some(FileTopicPartition(dir.resolve(f).toString, topic, part, markByte, markLine,
            lo, hi, i.toLong << 32): InputPartition)
        }
      }
    }.toArray
  }

  /** Kafka's lag metrics, per topic-partition, from the last scan's counts. */
  override def metrics(latestConsumedOffset: util.Optional[Offset]): util.Map[String, String] = {
    val avail = available
    latestConsumedOffset.map[util.Map[String, String]] { o =>
      val consumed = o match {
        case f: FileLinesOffset => f.lines
        case other => FileLinesOffset.fromJson(other.json()).lines
      }
      val behind = FileTopic.byPartition(avail.keys).map { case (_, files) =>
        files.map(f => math.max(avail(f) - consumed.getOrElse(f, 0L), 0L)).sum
      }
      if (behind.isEmpty) util.Collections.emptyMap()
      else Map(
        "minOffsetsBehindLatest" -> behind.min.toString,
        "maxOffsetsBehindLatest" -> behind.max.toString,
        "avgOffsetsBehindLatest" -> (behind.sum.toDouble / behind.size).toString).asJava
    }.orElse(util.Collections.emptyMap())
  }

  override def createReaderFactory(): PartitionReaderFactory = new FileTopicReaderFactory
  override def deserializeOffset(json: String): Offset = {
    val o = FileLinesOffset.fromJson(json)
    bump(o)
    o
  }
  override def commit(end: Offset): Unit = synchronized {
    val e = end.asInstanceOf[FileLinesOffset]
    bump(e)
    e.lines.foreach { case (f, n) => cursors.get(f).foreach(_.dropBelow(n)) }
  }
  override def stop(): Unit = ()
}

/** Lines `[startLine, endLine)` of `file`; reading starts at byte
  * `seekByte`, where line `seekLine` (≤ `startLine`) begins.
  */
private[sources] case class FileTopicPartition(file: String, topic: String,
    partition: Int, seekByte: Long, seekLine: Long, startLine: Long, endLine: Long,
    baseOffset: Long) extends InputPartition

private[sources] class FileTopicReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FileTopicPartition]
    new PartitionReader[InternalRow] {
      private val in: InputStream = {
        val ch = FileChannel.open(Paths.get(p.file), StandardOpenOption.READ)
        ch.position(p.seekByte)
        Channels.newInputStream(ch)
      }
      private val lines = new LineReader(in)
      private val envelope = new EnvelopeParser
      private val topic = UTF8String.fromString(p.topic)
      private var lineNo = p.seekLine
      while (lineNo < p.startLine) { nextLine(); lineNo += 1 }
      private var row: InternalRow = _

      private def nextLine(): Unit =
        if (!lines.next()) throw new FileTopicSegmentRewrittenException(
          s"file-topic segment ${p.file} ended before line ${p.endLine} of a planned batch")

      override def next(): Boolean = {
        if (lineNo >= p.endLine) return false
        nextLine()
        row = envelope.parse(lines.buf, lines.start, lines.end, topic, p.partition,
          p.baseOffset + lineNo)
        lineNo += 1
        true
      }

      override def get(): InternalRow = row
      override def close(): Unit = in.close()
    }
  }
}

/** `\n`-terminated lines of a byte stream, each exposed in place as
  * `buf[start, end)` without its `\n` until the next call.
  */
private[sources] final class LineReader(in: InputStream) {
  var buf = new Array[Byte](1 << 16)
  var start = 0
  var end = 0
  private var pos = 0
  private var limit = 0

  def next(): Boolean = {
    var i = pos
    while (true) {
      while (i < limit) {
        if (buf(i) == '\n') {
          start = pos; end = i; pos = i + 1
          return true
        }
        i += 1
      }
      // no '\n' in the window: keep the partial line and read more
      if (pos > 0) {
        System.arraycopy(buf, pos, buf, 0, limit - pos)
        i -= pos; limit -= pos; pos = 0
      }
      if (limit == buf.length) buf = util.Arrays.copyOf(buf, buf.length * 2)
      val n = in.read(buf, limit, buf.length - limit)
      if (n < 0) return false
      limit += n
    }
    false
  }
}

/** One JSON envelope line → an envelope row, with Jackson's streaming parser
  * straight over the line's bytes. String fields go to UTF-8 bytes through
  * one reused encoder (invalid surrogates become '?', as `String.getBytes`
  * does); a field that is absent or JSON null is null, timestamp 0.
  */
private[sources] final class EnvelopeParser {
  private val json = new JsonFactory
  private val encoder = UTF_8.newEncoder()
    .onMalformedInput(CodingErrorAction.REPLACE)
    .onUnmappableCharacter(CodingErrorAction.REPLACE)
  private var out = ByteBuffer.allocate(1024)

  def parse(buf: Array[Byte], start: Int, end: Int, topic: UTF8String, partition: Int,
      offset: Long): InternalRow = {
    val jp = json.createParser(buf, start, end - start)
    try {
      var key: Array[Byte] = null
      var value: Array[Byte] = null
      var tsMs = 0L
      var headers: GenericArrayData = null
      if (jp.nextToken() == JsonToken.START_OBJECT) {
        while (jp.nextToken() == JsonToken.FIELD_NAME) {
          val field = jp.currentName()
          jp.nextToken()
          field match {
            case "key" => key = bytes(jp)
            case "value" => value = bytes(jp)
            case "timestamp" => tsMs = jp.getValueAsLong
            case "headers" => headers = parseHeaders(jp)
            case _ => jp.skipChildren()
          }
        }
      }
      new GenericInternalRow(Array[Any](key, value, topic, partition,
        offset, tsMs * 1000L, 0, headers))
    } finally jp.close()
  }

  private def parseHeaders(jp: JsonParser): GenericArrayData =
    if (jp.currentToken() != JsonToken.START_ARRAY) { jp.skipChildren(); null }
    else {
      val hs = mutable.ArrayBuffer.empty[Any]
      while (jp.nextToken() == JsonToken.START_OBJECT) {
        var k: Array[Byte] = null
        var v: Array[Byte] = null
        while (jp.nextToken() == JsonToken.FIELD_NAME) {
          val field = jp.currentName()
          jp.nextToken()
          field match {
            case "key" => k = bytes(jp)
            case "value" => v = bytes(jp)
            case _ => jp.skipChildren()
          }
        }
        hs += new GenericInternalRow(Array[Any](
          if (k == null) null else UTF8String.fromBytes(k), v))
      }
      new GenericArrayData(hs.toArray)
    }

  /** The current value's text as UTF-8; null for JSON null, "" for a
    * container (as `JsonNode.asText` reads one).
    */
  private def bytes(jp: JsonParser): Array[Byte] = jp.currentToken() match {
    case JsonToken.VALUE_NULL => null
    case JsonToken.START_OBJECT | JsonToken.START_ARRAY => jp.skipChildren(); Array.emptyByteArray
    case _ =>
      val len = jp.getTextLength
      val need = len * 3
      if (out.capacity() < need) out = ByteBuffer.allocate(need)
      out.clear()
      encoder.reset()
      encoder.encode(CharBuffer.wrap(jp.getTextCharacters, jp.getTextOffset, len), out, true)
      encoder.flush(out)
      util.Arrays.copyOf(out.array(), out.position())
  }
}

// ---- write side ----

private[sources] class FileTopicWrite(schema: StructType, props: util.Map[String, String])
    extends Write {
  override def toStreaming: StreamingWrite = {
    val topic = props.get("topic")
    require(topic != null && topic.nonEmpty && !topic.contains('.') && !topic.contains('/'),
      "file-topic sink requires .option(\"topic\", name) (no '.' or '/')")
    new FileTopicStreamingWrite(FileTopic.dir(props).toString, topic,
      math.max(1, Option(props.get("numPartitions")).map(_.toInt).getOrElse(1)), schema)
  }
}

private[sources] class FileTopicStreamingWrite(dir: String, topic: String,
    numPartitions: Int, schema: StructType) extends StreamingWrite {
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new FileTopicWriterFactory(dir, topic, numPartitions, schema)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

private[sources] case object FileTopicCommitted extends WriterCommitMessage

private[sources] class FileTopicWriterFactory(dir: String, topic: String,
    numPartitions: Int, schema: StructType) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val mapper = new ObjectMapper
      private val buffers = scala.collection.mutable.Map.empty[Int, StringBuilder]
      private def idx(name: String): Int = schema.fieldNames.indexOf(name)
      private val (ki, vi, hi, ti) = (idx("key"), idx("value"), idx("headers"), idx("timestamp"))
      require(vi >= 0, s"file-topic sink needs a 'value' column, got ${schema.simpleString}")

      private def str(row: InternalRow, i: Int): String =
        if (i < 0 || row.isNullAt(i)) null
        else schema(i).dataType match {
          case BinaryType => new String(row.getBinary(i), UTF_8)
          case StringType => row.getUTF8String(i).toString
          case other => throw new UnsupportedOperationException(
            s"file-topic sink: ${schema(i).name} must be STRING or BINARY, got $other")
        }

      override def write(row: InternalRow): Unit = {
        val key = str(row, ki)
        // Kafka's sticky/default partitioner is key-hash; null keys pin to 0
        // here (determinism beats round-robin for a replayable fixture)
        val part = if (key == null) 0
          else math.floorMod(util.Arrays.hashCode(key.getBytes(UTF_8)), numPartitions)
        val node = mapper.createObjectNode()
        if (key == null) node.putNull("key") else node.put("key", key)
        node.put("value", str(row, vi))
        if (ti >= 0 && !row.isNullAt(ti)) node.put("timestamp", row.getLong(ti) / 1000L)
        if (hi >= 0 && !row.isNullAt(hi)) {
          val arr = node.putArray("headers")
          val hs = row.getArray(hi)
          (0 until hs.numElements()).foreach { j =>
            val h = hs.getStruct(j, 2)
            val o = arr.addObject()
            o.put("key", h.getUTF8String(0).toString)
            o.put("value", new String(h.getBinary(1), UTF_8))
          }
        }
        buffers.getOrElseUpdate(part, new StringBuilder)
          .append(mapper.writeValueAsString(node)).append('\n')
      }

      /** One segment per (epoch, Spark partition, topic partition). The name
        * leaves out the attempt's `taskId`, so a retried task or a replayed
        * epoch rewrites the same file with the same content instead of
        * adding a second copy of its records.
        */
      override def commit(): WriterCommitMessage = {
        buffers.foreach { case (part, sb) =>
          val segment = f"$topic-$part.e$epochId%019dp$partitionId%05d"
          val target = Paths.get(dir, s"$segment.jsonl")
          val tmp = Paths.get(dir, s".$segment.t$taskId.tmp")
          Files.createDirectories(target.getParent)
          Files.write(tmp, sb.toString.getBytes(UTF_8))
          Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING,
            StandardCopyOption.ATOMIC_MOVE)
        }
        FileTopicCommitted
      }

      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
