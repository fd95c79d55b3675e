package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxBytes, ReadMaxFiles, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Native DataSource V2 table over the reference's entire data model: a
  * directory of line-oriented text files (reference
  * manager/__main__.py:371-374 enumerates the dir SORTED BY FILENAME;
  * a record is one line, worker/__main__.py:137).
  *
  * READ: `spark.read.format("linedir").load(dir)` yields
  * `(value STRING, file STRING, line BIGINT)` — the record, its source
  * file's name, and its 1-based line number (provenance columns the
  * reference loses the moment lines leave the mapper). The data files
  * are those [[LineDir.listSortedWithAttrs]] lists, and `value` is what
  * `sc.textFile` returns for the line ([[LocalLines]], the MapReduce
  * job's reader too).
  * `spark.readStream.format("linedir").load(dir)` is the same table as
  * an incremental source: file-arrival offsets (LineDirMicroBatchStream)
  * turn the reference's static input dir into a replayable stream with
  * checkpoint-exact restart.
  *
  * Split parity: ONE InputPartition PER FILE, in sorted filename order —
  * exactly the reference's file-granular split unit (it never splits
  * within a file, so a Spark byte-range split would diverge for
  * stateful per-file mappers; see MapReduceJob.inputRddPerFile for the
  * RDD-side twin). Column pruning is pushed into the reader
  * (SupportsPushDownRequiredColumns): a `select(file)` never
  * materializes line strings. `.option("targetPartitionBytes", n)`
  * relaxes file-granularity for scale: sorted files greedily coalesce
  * into partitions of ~n bytes (the maxPartitionBytes analogue — a
  * million-small-file dir no longer means a million tasks), each
  * partition still reading its files in sorted order.
  *
  * WRITE: `df.write.format("linedir").mode("overwrite").save(dir)` for
  * a single string column is the reference's O7 sink as a native
  * connector: partition i commits to `part-%05d` (zero-padded like
  * reference worker/__main__.py:183-185) through [[StagedParts]], the
  * MapReduce job's sink too. Overwrite clears prior contents at commit
  * time (the reference pre-clears the output dir).
  *
  * Scale posture: file listing happens once on the driver, is
  * sequential, and REFUSES above `.option("maxListedFiles", n)`
  * (default 100000) — see [[LineDir.DefaultMaxListedFiles]];
  * readers stream lines through a fixed buffer — no whole-file
  * buffering; the commit is rename-only on a shared FS (object stores
  * would swap the rename for a copy-manifest commit, same protocol
  * shape).
  */
class LineDir extends TableProvider with DataSourceRegister {
  override def shortName(): String = "linedir"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    LineDir.SCHEMA

  // On write, Spark hands us the incoming DataFrame's schema (validated
  // in newWriteBuilder); on read, the inferred schema above.
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val path = Option(properties.get("path")).getOrElse(
      throw new IllegalArgumentException("linedir requires .load(path)"))
    new LineDirTable(path, schema)
  }
}

object LineDir {
  val SCHEMA: StructType = StructType(Seq(
    StructField("value", StringType, nullable = false),
    StructField("file", StringType, nullable = false),
    StructField("line", LongType, nullable = false)))

  /** Runs `f` over a directory listing and ALWAYS closes the stream —
    * `Files.list` holds an open directory handle until closed, and the
    * seen-log's restore/commit paths list on every batch, so relying on
    * GC finalization leaks file descriptors on long-running streams. */
  private[sources] def listDir[A](dir: Path)(f: Iterator[Path] => A): A = {
    val s = Files.list(dir)
    try f(s.iterator().asScala) finally s.close()
  }

  /** Files-per-directory posture bound (SCALE.md), as CODE: the
    * driver-side listing is sequential — one readAttributes stat per
    * file per trigger — so a very-large FLAT directory gates the whole
    * job/stream on single-threaded driver I/O long before executors
    * matter. Above the bound the read REFUSES loudly (configurable via
    * `.option("maxListedFiles", n)`) instead of silently degrading. */
  val DefaultMaxListedFiles: Long = 100000L

  /** Applies the maxListedFiles refusal to one listing pass. */
  private[sources] def boundListing[A](dir: String, listed: Seq[A],
      cap: Long): Seq[A] = {
    if (listed.size > cap) throw new IllegalStateException(
      s"linedir: directory '$dir' lists ${listed.size} files, above " +
        s"maxListedFiles=$cap. The driver-side listing is sequential " +
        "(one stat per file per trigger), so flat directories this " +
        "large gate the job on the driver: shard the input into " +
        "subdirectories or raise .option(\"maxListedFiles\", n), and " +
        "coalesce the resulting small-file tasks with " +
        ".option(\"targetPartitionBytes\", bytes)")
    listed
  }

  /** The one directory lister of the line-dir data model (batch scan,
    * stream source, MapReduce job input): the data files of `dir` as
    * (name, size, mtimeMs), sorted by name — the reference's
    * deterministic enumeration. Data files are the regular files whose
    * names start with neither `.` nor `_`: Hadoop-convention metadata
    * (`_SUCCESS`, `.crc` sidecars) and a writer's hidden staging or
    * temp files are never data, so a Spark-written text dir reads as
    * exactly its lines and a half-written dot-file is never admitted.
    *
    * ONE stat per entry: `readAttributes` yields the regular-file flag,
    * size and mtime together — the driver-side listing is sequential,
    * so stats per file is the scaling term for large directories (see
    * SCALE.md for the files-per-dir posture). A file deleted between
    * the list and the stat is skipped for this pass (FileStreamSource
    * tolerates the same race) instead of failing the whole job/stream. */
  def listSortedWithAttrs(dir: String): Seq[(String, Long, Long)] =
    listDir(Paths.get(dir)) { it =>
      it.flatMap { p =>
        val n = p.getFileName.toString
        if (n.startsWith(".") || n.startsWith("_")) None
        else try {
          val a = Files.readAttributes(p,
            classOf[java.nio.file.attribute.BasicFileAttributes])
          if (a.isRegularFile) Some((n, a.size(), a.lastModifiedTime().toMillis))
          else None
        } catch { case _: java.io.IOException => None }
      }.toSeq
    }.sortBy(_._1)

  /** The names of [[listSortedWithAttrs]]. */
  def listSorted(dir: String): Seq[String] = listSortedWithAttrs(dir).map(_._1)
}

private[sources] class LineDirTable(path: String, tableSchema: StructType)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"linedir($path)"
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.STREAMING_WRITE, TableCapability.MICRO_BATCH_READ)

  /** A user-supplied read schema (supportsExternalMetadata) must be a
    * subset of the linedir schema BY NAME AND TYPE — validated here so a
    * typo is an analysis-time IllegalArgumentException, not a task-time
    * MatchError in LineDirReader.get(). */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    tableSchema.fields.foreach { f =>
      val ref = LineDir.SCHEMA.fields.find(_.name == f.name).getOrElse(
        throw new IllegalArgumentException(
          s"linedir has no column '${f.name}'; schema is " +
            s"(value STRING, file STRING, line BIGINT)"))
      if (ref.dataType != f.dataType)
        throw new IllegalArgumentException(
          s"linedir column '${f.name}' is ${ref.dataType.simpleString}, " +
            s"requested ${f.dataType.simpleString}")
    }
    new LineDirScanBuilder(path, tableSchema,
      Option(options.get("targetPartitionBytes")).map(_.toLong),
      StreamOptions(
        maxFilesPerTrigger =
          Option(options.get("maxFilesPerTrigger")).map(_.toInt),
        maxBytesPerTrigger =
          Option(options.get("maxBytesPerTrigger")).map(_.toLong),
        maxFileAgeMs = Option(options.get("maxFileAgeMs")).map(_.toLong),
        compactInterval =
          Option(options.get("logCompactInterval")).map(_.toInt)
            .getOrElse(10),
        maxListedFiles =
          Option(options.get("maxListedFiles")).map(_.toLong)
            .getOrElse(LineDir.DefaultMaxListedFiles)))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val s = info.schema()
    require(s.length == 1 && s.head.dataType == StringType,
      s"linedir writes exactly one string column (a line), got: $s")
    new LineDirWriteBuilder(path)
  }
}

// ── read path ─────────────────────────────────────────────────────────

/** Read tuning knobs (maxListedFiles guards BOTH paths' listings;
  * the trigger/age knobs are streaming-only). */
private[sources] case class StreamOptions(
    maxFilesPerTrigger: Option[Int],
    maxBytesPerTrigger: Option[Long],
    maxFileAgeMs: Option[Long],
    compactInterval: Int,
    maxListedFiles: Long = LineDir.DefaultMaxListedFiles) {
  maxFilesPerTrigger.foreach(n =>
    require(n > 0, s"maxFilesPerTrigger must be positive, got $n"))
  maxBytesPerTrigger.foreach(b =>
    require(b > 0, s"maxBytesPerTrigger must be positive, got $b"))
  require(maxListedFiles > 0,
    s"maxListedFiles must be positive, got $maxListedFiles")
}

private[sources] class LineDirScanBuilder(path: String,
    tableSchema: StructType, targetBytes: Option[Long],
    streamOpts: StreamOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = tableSchema

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan =
    new LineDirScan(path, required, targetBytes, streamOpts)
}

private[sources] class LineDirScan(path: String, required: StructType,
    targetBytes: Option[Long], streamOpts: StreamOptions)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LineDirMicroBatchStream(path, required.fieldNames,
      checkpointLocation, streamOpts)

  /** Default: one partition per file (reference split parity). With
    * targetPartitionBytes: greedy first-fit over the SORTED listing —
    * a partition closes once its byte total reaches the target, so
    * partition count tracks total bytes, not file count. */
  override def planInputPartitions(): Array[InputPartition] = {
    val cap = streamOpts.maxListedFiles
    targetBytes match {
      case None =>
        LineDir.boundListing(path, LineDir.listSorted(path), cap)
          .map(f => LineDirPartition(path, Seq(f)): InputPartition).toArray
      case Some(target) =>
        // sizes come from the SAME listing pass (one readAttributes stat
        // per file) — not a second Files.size stat per file
        val groups = Seq.newBuilder[LineDirPartition]
        var cur = Vector.empty[String]
        var curBytes = 0L
        for ((f, sz, _) <-
            LineDir.boundListing(path, LineDir.listSortedWithAttrs(path), cap)) {
          if (cur.nonEmpty && curBytes + sz > target) {
            groups += LineDirPartition(path, cur)
            cur = Vector.empty; curBytes = 0L
          }
          cur :+= f; curBytes += sz
        }
        if (cur.nonEmpty) groups += LineDirPartition(path, cur)
        groups.result().toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineDirReaderFactory(required.fieldNames)
}

private[sources] case class LineDirPartition(dir: String, files: Seq[String])
    extends InputPartition

// ── streaming read path ───────────────────────────────────────────────

/** File-arrival offset: an INDEX into the source's own seen-file log
  * (below) — O(1) JSON regardless of how many files have ever been
  * seen, so Spark's offset/commit logs stay constant-size per batch. A
  * micro-batch (start, end] reads exactly the files recorded in the
  * log's delta entries start+1..end, so arrival order never matters (a
  * late file whose name sorts before already-seen ones lands in a later
  * delta) and a checkpoint-restart replans the identical batch from the
  * persisted deltas. batchId -1 is the empty initial offset. */
private[sources] case class LineDirOffset(batchId: Long) extends Offset {
  override def json(): String = s"""{"batch":$batchId}"""
}

private[sources] object LineDirOffset {
  // anchored to the exact {"batch":N} shape: a legacy/corrupt offset
  // (say a file-list ["f01.txt"] from some other format) must fail
  // loudly instead of silently parsing whatever integer it contains
  // into a bogus batch id that misplans batches on restart
  private val Shape = """\s*\{\s*"batch"\s*:\s*(-?\d+)\s*\}\s*""".r

  def fromJson(j: String): LineDirOffset = j match {
    case Shape(n) => LineDirOffset(n.toLong)
    case _ => throw new IllegalArgumentException(
      s"""bad linedir offset (expected {"batch":N}): $j""")
  }
}

/** The source's persistent seen-file log (FileStreamSource's design,
  * re-expressed): under `<checkpoint>/linedir-seen/`, each batch N
  * writes `N.delta` — the files first seen in that batch, one
  * `<mtimeMs>\t<escaped name>` line each — and every `compactInterval`
  * batches also `N.compact`, the FULL retained seen-set at N. Restore
  * reads the newest compact plus the deltas after it, so neither
  * restart cost nor (after `commit` prunes deltas folded into the
  * newest committed compact) checkpoint size grows with the total
  * number of batches ever run. With `maxFileAgeMs` set, compaction
  * additionally evicts entries whose recorded mtime has aged out — and
  * candidate files older than the window are ignored outright — so the
  * compact itself is bounded by the retention window, not by the
  * lifetime of the input dir. Without it, the compact grows with
  * distinct files seen (exact semantics — nothing is ever re-read). */
private[sources] class LineDirSeenLog(dir: Path) {
  Files.createDirectories(dir)

  private def esc(s: String): String = s.flatMap {
    case '\\' => "\\\\"
    case '\t' => "\\t"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case c => c.toString
  }
  private def unesc(s: String): String = {
    val sb = new StringBuilder; var i = 0
    while (i < s.length) {
      if (s.charAt(i) == '\\' && i + 1 < s.length) {
        sb += (s.charAt(i + 1) match {
          case 't' => '\t'; case 'n' => '\n'; case 'r' => '\r'; case c => c
        }); i += 2
      } else { sb += s.charAt(i); i += 1 }
    }
    sb.toString
  }

  private def write(p: Path, entries: Seq[(String, Long)]): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + ".tmp")
    Files.write(tmp, entries.map { case (n, mt) => s"$mt\t${esc(n)}" }
      .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def read(p: Path): Seq[(String, Long)] =
    Files.readAllLines(p, StandardCharsets.UTF_8).asScala.toSeq
      .filter(_.nonEmpty).map { l =>
        val i = l.indexOf('\t')
        (unesc(l.substring(i + 1)), l.substring(0, i).toLong)
      }

  private def ids(suffix: String): Seq[Long] =
    LineDir.listDir(dir) { it =>
      it.map(_.getFileName.toString)
        .filter(_.endsWith(suffix))
        .map(_.stripSuffix(suffix).toLong).toSeq
    }.sorted

  def deltaPath(id: Long): Path = dir.resolve(s"$id.delta")
  private def compactPath(id: Long): Path = dir.resolve(s"$id.compact")

  def writeDelta(id: Long, entries: Seq[(String, Long)]): Unit =
    write(deltaPath(id), entries)
  def readDelta(id: Long): Seq[(String, Long)] = read(deltaPath(id))
  def writeCompact(id: Long, entries: Seq[(String, Long)]): Unit =
    write(compactPath(id), entries)

  /** (lastBatchId, seen name→mtime) from newest compact + later deltas. */
  def restore(): (Long, scala.collection.mutable.HashMap[String, Long]) = {
    val seen = scala.collection.mutable.HashMap.empty[String, Long]
    val compactIds = ids(".compact")
    val base = compactIds.lastOption.getOrElse(-1L)
    if (base >= 0) seen ++= read(compactPath(base))
    val deltaIds = ids(".delta").filter(_ > base)
    deltaIds.foreach(id => seen ++= readDelta(id))
    ((deltaIds :+ base).max, seen)
  }

  /** Prune entries a committed batch makes redundant: deltas folded
    * into the newest compact ≤ end, and older compacts. The engine
    * never replans a committed batch, and restore() only reads the
    * newest compact forward — so post-commit the log holds ONE compact
    * plus at most compactInterval live deltas, regardless of how many
    * batches have ever run. */
  def pruneUpTo(end: Long): Unit = {
    val compactIds = ids(".compact").filter(_ <= end)
    compactIds.lastOption.foreach { keep =>
      ids(".delta").filter(_ <= keep)
        .foreach(id => Files.deleteIfExists(deltaPath(id)))
      compactIds.filter(_ < keep)
        .foreach(id => Files.deleteIfExists(compactPath(id)))
    }
  }
}

/** Replays a line dir incrementally: each trigger's batch is the set of
  * files that arrived since the last offset (reference input model is a
  * static dir enumerated once, manager/__main__.py:371-374 — this is
  * its continuous twin). One InputPartition per new file, sorted, same
  * reader and column pruning as the batch scan.
  *
  * Admission control: `.option("maxFilesPerTrigger", n)` caps each
  * micro-batch at n new files (sorted order) and
  * `.option("maxBytesPerTrigger", b)` at ~b bytes (soft cap — at least
  * one file per batch so an over-cap file can't wedge the stream; both
  * caps compose), so a backlog becomes a sequence of bounded batches
  * instead of one giant one; implements SupportsTriggerAvailableNow so
  * Trigger.AvailableNow respects the caps too (the files present at
  * query start are drained in capped batches, files arriving later
  * wait for the next run — the FileStreamSource contract).
  *
  * State discipline: the seen-set is restored ONCE per run from the
  * source's own log, never from the engine-passed start offset —
  * Spark's AvailableNow wrapper passes initialOffset() even on
  * restart, and an offset that merely indexes the log could not carry
  * the seen-set anyway. A delta written by a latestOffset whose offset
  * never reached Spark's offset log (crash between the two writes) is
  * re-adopted on restart exactly like FileStreamSource's orphan
  * metadata-log batch: restore() counts it, the next latestOffset
  * returns its id, and the engine plans it as the next batch — no file
  * is lost or read twice. */
private[sources] class LineDirMicroBatchStream(path: String,
    fields: Array[String], checkpointLocation: String,
    opts: StreamOptions)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  // Spark passes the per-source checkpoint dir as a Hadoop-Path string
  // (file:/... with raw spaces/%/# — NOT URI-escaped); this connector is
  // local-FS (like its write path), so parse it with Hadoop Path — whose
  // constructor quotes illegal characters before building the URI, where
  // a hand-rolled java.net.URI.create would throw on '%' and silently
  // truncate at '#' — then resolve the file scheme and reject others
  // loudly.
  private val ckptDir: Path = {
    val u = new org.apache.hadoop.fs.Path(checkpointLocation).toUri
    Option(u.getScheme) match {
      case None => Paths.get(u.getPath)
      case Some("file") => Paths.get(u.getPath)
      case Some(other) => throw new IllegalArgumentException(
        s"linedir streaming checkpoint must be a local path, got scheme " +
          s"$other ($checkpointLocation)")
    }
  }
  private val log = new LineDirSeenLog(ckptDir.resolve("linedir-seen"))
  // restored lazily so a stream that only deserializes offsets (e.g.
  // during recovery planning) doesn't pay the log read
  private var lastBatchId: Long = -2L // -2 = not yet restored
  private var seen: scala.collection.mutable.HashMap[String, Long] = _
  // Trigger.AvailableNow: the run drains only files present at start
  private var availableNowTarget: Option[Set[String]] = None

  private def ensureRestored(): Unit = if (lastBatchId == -2L) {
    val (id, s) = log.restore()
    lastBatchId = id; seen = s
  }

  override def initialOffset(): Offset = LineDirOffset(-1L)

  override def getDefaultReadLimit: ReadLimit = {
    val limits = opts.maxFilesPerTrigger.map(ReadLimit.maxFiles).toSeq ++
      opts.maxBytesPerTrigger.map(ReadLimit.maxBytes).toSeq
    limits match {
      case Seq() => ReadLimit.allAvailable()
      case Seq(one) => one
      case many => ReadLimit.compositeLimit(many.toArray)
    }
  }

  override def prepareForTriggerAvailableNow(): Unit = {
    ensureRestored()
    availableNowTarget = Some(LineDir.boundListing(path,
      LineDir.listSorted(path), opts.maxListedFiles).toSet)
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    ensureRestored()
    val now = System.currentTimeMillis()
    val minMtime = opts.maxFileAgeMs.map(now - _)
    // one readAttributes stat per candidate carries BOTH mtime and size
    // (the old shape re-statted size per admitted file, twice), and a
    // file deleted between the list and the stat is skipped for this
    // trigger instead of failing the stream (listSortedWithAttrs)
    val candidates = LineDir.boundListing(path,
      LineDir.listSortedWithAttrs(path), opts.maxListedFiles)
      .filter { case (f, _, _) => availableNowTarget.forall(_.contains(f)) }
      .filterNot { case (f, _, _) => seen.contains(f) }
      .filter { case (_, _, mt) => minMtime.forall(min => mt >= min) }
    def flatten(l: ReadLimit): Seq[ReadLimit] = l match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq.flatMap(flatten)
      case other => Seq(other)
    }
    val ls = flatten(limit)
    val maxFiles = ls.collect { case m: ReadMaxFiles => m.maxFiles() }
      .minOption
    val maxBytes = ls.collect { case m: ReadMaxBytes => m.maxBytes() }
      .minOption
    // maxBytes is a SOFT cap (at least one file per batch, like
    // FileStreamSource): a single over-cap file must still make
    // progress, not wedge the stream
    val admitted = {
      var bytes = 0L
      candidates.zipWithIndex.takeWhile { case ((_, sz, _), i) =>
        val ok = maxFiles.forall(i < _) &&
          (i == 0 || maxBytes.forall(bytes + sz <= _))
        if (ok) bytes += sz
        ok
      }.map { case ((f, _, mt), _) => (f, mt) }
    }
    if (admitted.nonEmpty) {
      lastBatchId += 1
      log.writeDelta(lastBatchId, admitted)
      seen ++= admitted
      if (lastBatchId % opts.compactInterval == 0) {
        val retained = minMtime match {
          case Some(min) => seen.filter(_._2 >= min)
          case None => seen
        }
        log.writeCompact(lastBatchId, retained.toSeq.sortBy(_._1))
        minMtime.foreach(min => seen.filterInPlace((_, mt) => mt >= min))
      }
    }
    LineDirOffset(lastBatchId max -1L)
  }

  override def reportLatestOffset(): Offset =
    LineDirOffset(lastBatchId max -1L)

  override def planInputPartitions(start: Offset,
      end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[LineDirOffset].batchId
    val e = end.asInstanceOf[LineDirOffset].batchId
    ((s + 1) to e).flatMap(id => log.readDelta(id).map(_._1))
      .sorted
      .map(f => LineDirPartition(path, Seq(f)): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new LineDirReaderFactory(fields)

  override def deserializeOffset(json: String): Offset =
    LineDirOffset.fromJson(json)

  override def commit(end: Offset): Unit =
    log.pruneUpTo(end.asInstanceOf[LineDirOffset].batchId)
  override def stop(): Unit = ()
}

private[sources] class LineDirReaderFactory(fields: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[LineDirPartition]
    new LineDirReader(p.dir, p.files, fields)
  }
}

/** The partition's lines ([[LocalLines]] over its files, in order) with
  * their provenance: the file's name and the 1-based line number. */
private[sources] class LineDirReader(dir: String, files: Seq[String],
    fields: Array[String]) extends PartitionReader[InternalRow] {
  private val names = files.toIndexedSeq
  private val lines = new LocalLines(names.map(f => Paths.get(dir, f).toString))
  private var fileIndex = -1
  private var fileUtf8: UTF8String = _
  private var lineNo = 0L
  private var current: String = _

  override def next(): Boolean = lines.hasNext && {
    current = lines.next()
    if (lines.fileIndex != fileIndex) {
      fileIndex = lines.fileIndex
      fileUtf8 = UTF8String.fromString(names(fileIndex))
      lineNo = 0L
    }
    lineNo += 1
    true
  }

  override def get(): InternalRow =
    new GenericInternalRow(fields.map[Any] {
      case "value" => UTF8String.fromString(current)
      case "file"  => fileUtf8
      case "line"  => lineNo
    })

  override def close(): Unit = lines.close()
}

// ── write path ────────────────────────────────────────────────────────

private[sources] class LineDirWriteBuilder(path: String)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false

  override def truncate(): WriteBuilder = { doTruncate = true; this }

  override def build(): Write = new Write {
    override def toBatch: BatchWrite =
      new LineDirBatchWrite(path, doTruncate)
    override def toStreaming: StreamingWrite =
      new LineDirStreamingWrite(path)
  }
}

/** Streaming sink: each epoch commits to files named
  * `part-<epoch>-<partition>` — a REPLAYED epoch (restart inside the
  * at-least-once window) rewrites exactly the same names, so the sink
  * is idempotent per epoch, the same contract
  * graft.streaming.StreamingOps.commitBatch provides via foreachBatch
  * partition-dir overwrites, here native to the connector. Commit and
  * abort sweep only the epoch's own staged attempts, and the staging
  * dir once empty. */
private[sources] class LineDirStreamingWrite(path: String)
    extends StreamingWrite {
  private val staged = StagedParts.begin(path)

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new LineDirWriterFactory(staged)

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    staged.commit(messages.toSeq.map { case LineDirCommit(name, pid) =>
      name -> f"part-$epochId%05d-$pid%05d"
    }, replace = true, prefix = StagedParts.epochPrefix(epochId))

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    staged.sweep(StagedParts.epochPrefix(epochId))
}

private[sources] case class LineDirCommit(stagedName: String,
    partitionId: Int) extends WriterCommitMessage

private[sources] class LineDirBatchWrite(path: String, truncate: Boolean)
    extends BatchWrite {
  private val staged = StagedParts.begin(path)

  override def createBatchWriterFactory(
      info: PhysicalWriteInfo): DataWriterFactory =
    new LineDirWriterFactory(staged)

  /** Only reached when EVERY task committed, so no partial outputs ever
    * become visible — Spark's all-or-nothing job commit on top of the
    * staged move. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    if (truncate)
      LineDir.listDir(Paths.get(path)) { it =>
        it.filter(p => Files.isRegularFile(p)
            && !p.getFileName.toString.startsWith("."))
          .foreach(Files.delete)
      }
    // append numbers past the existing part files so SEQUENTIAL jobs
    // never collide (the reference always starts at 0 because its
    // output dir is always pre-cleared — truncate reproduces that).
    // Two CONCURRENT append jobs can compute the same base: an append
    // never replaces, so the second committer fails loudly with
    // FileAlreadyExistsException instead of clobbering the first's parts.
    val base =
      if (truncate) 0
      else LineDir.listSorted(path)
        .flatMap(n => if (n.startsWith("part-")) n.drop(5).toIntOption
                      else None)
        .maxOption.map(_ + 1).getOrElse(0)
    staged.commit(messages.toSeq.map { case LineDirCommit(name, pid) =>
      name -> f"part-${base + pid}%05d"
    }, replace = truncate)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    staged.sweep()
}

/** Batch writers stage under epoch 0. */
private[sources] class LineDirWriterFactory(staged: StagedParts)
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId, 0L)

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new LineDirWriter(staged,
      StagedParts.attemptName(epochId, partitionId, taskId), partitionId)
}

/** Streams lines to one task attempt's staged file; task commit hands
  * the driver its name. */
private[sources] class LineDirWriter(staged: StagedParts, name: String,
    partitionId: Int) extends DataWriter[InternalRow] {
  private val w = staged.open(name)

  override def write(row: InternalRow): Unit = {
    w.write(row.getUTF8String(0).toString)
    w.write('\n')
  }

  override def commit(): WriterCommitMessage = {
    w.close()
    LineDirCommit(name, partitionId)
  }

  override def abort(): Unit = {
    w.close()
    staged.discard(name)
  }

  override def close(): Unit = w.close()
}
