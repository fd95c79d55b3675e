package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.Tables
import graft.mr.SparkTestSession

case class RawEvent(event_id: Long, ts: Timestamp, user_id: Long,
    event_type: String, value: Double)

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  val sfDir = "/root/testdata/sf0.001"

  def fixtureEvents(n: Int): Seq[RawEvent] =
    Tables.events(spark, sfDir)
      .select($"event_id", $"ts", $"user_id", $"event_type", $"value")
      .as[RawEvent].collect().sortBy(_.event_id).take(n).toSeq

  test("streaming hourly counts equal the batch plan on the same data") {
    val events = fixtureEvents(500)
    val stream = MemoryStream[RawEvent](spark)
    val q = StreamingOps.hourlyCounts(stream.toDF())
      .writeStream.format("memory").queryName("hourly")
      .outputMode("complete").start()
    try {
      // two micro-batches to exercise incremental state
      stream.addData(events.take(250)); q.processAllAvailable()
      stream.addData(events.drop(250)); q.processAllAvailable()
      val streamed = spark.table("hourly")
        .select($"wstart", $"event_type", $"n", $"value_cents")
        .collect().toSet
      val batch = StreamingOps.hourlyCounts(events.toDF())
        .collect().toSet
      assert(streamed === batch)
      assert(streamed.nonEmpty)
    } finally q.stop()
  }

  test("session windows merge events within the gap") {
    val base = 1700000000000L
    val mk = (id: Long, uid: Long, offMin: Long) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), uid, "click", 1.0)
    val events = Seq(
      mk(1, 1, 0), mk(2, 1, 10), mk(3, 1, 20),   // one session
      mk(4, 1, 120),                             // gap > 30min → new session
      mk(5, 2, 0))
    val out = StreamingOps.sessions(events.toDF())
      .orderBy("user_id", "session_start").collect()
    assert(out.length === 3)
    assert(out(0).getAs[Long]("n_events") === 3)
    assert(out(1).getAs[Long]("n_events") === 1)
    assert(out(2).getAs[Long]("n_events") === 1)
  }

  test("dynamic-gap sessions: purchase closes early, stream equals batch") {
    val base = 1700000000000L
    val mk = (id: Long, uid: Long, offMin: Long, typ: String) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), uid, typ, 1.0)
    // purchase at t=0 (5-min gap) + click at t=10 → TWO sessions;
    // user 2: click at 0 (30-min gap) + click at 10 → one session
    val events = Seq(
      mk(1, 1, 0, "purchase"), mk(2, 1, 10, "click"),
      mk(3, 2, 0, "click"), mk(4, 2, 10, "click"))
    val gap = when($"event_type" === "purchase", lit("5 minutes"))
      .otherwise(lit("30 minutes"))
    val batch = StreamingOps.dynamicSessions(events.toDF(), gap)
      .orderBy("user_id", "session_start").collect()
    assert(batch.length === 3)
    assert(batch(0).getAs[Long]("n_events") === 1
      && batch(1).getAs[Long]("n_events") === 1,
      "purchase's 5-minute gap failed to split user 1's events")
    assert(batch(2).getAs[Long]("n_events") === 2)
    val stream = MemoryStream[RawEvent](spark)
    val q = StreamingOps.dynamicSessions(stream.toDF(), gap)
      .writeStream.format("memory").queryName("dynsess")
      .outputMode("complete").start()
    try {
      stream.addData(events.take(2)); q.processAllAvailable()
      stream.addData(events.drop(2)); q.processAllAvailable()
      val streamed = spark.table("dynsess").collect()
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
      val batchSet = batch
        .map(r => (r.getLong(0), r.getTimestamp(1), r.getLong(3))).toSet
      assert(streamed === batchSet)
    } finally q.stop()
  }

  test("flatMapGroupsWithState carries per-user state across micro-batches") {
    val stream = MemoryStream[StreamingOps.Event](spark)
    val q = StreamingOps.runningUserStats(stream.toDS())
      .writeStream.format("memory").queryName("running")
      .outputMode("append").start()
    try {
      stream.addData(StreamingOps.Event(1, 7, "click", 1.50))
      q.processAllAvailable()
      stream.addData(StreamingOps.Event(2, 7, "view", 2.25),
        StreamingOps.Event(3, 8, "click", 10.00))
      q.processAllAvailable()
      val rows = spark.table("running").as[StreamingOps.UserStats]
        .collect().groupBy(_.user_id).map { case (u, xs) =>
          u -> xs.maxBy(_.n_events)
        }
      assert(rows(7L) === StreamingOps.UserStats(7, 2, 375))
      assert(rows(8L) === StreamingOps.UserStats(8, 1, 1000))
    } finally q.stop()
  }

  test("transformWithState (state API v2) matches the v1 running stats") {
    // the v2 arbitrary-state operator requires the RocksDB state store
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[StreamingOps.Event](spark)
    val q = StreamingOps.runningUserStatsV2(stream.toDS())
      .writeStream.format("memory").queryName("running_v2")
      .outputMode("append").start()
    try {
      stream.addData(StreamingOps.Event(1, 7, "click", 1.50))
      q.processAllAvailable()
      stream.addData(StreamingOps.Event(2, 7, "view", 2.25),
        StreamingOps.Event(3, 8, "click", 10.00))
      q.processAllAvailable()
      val rows = spark.table("running_v2").as[StreamingOps.UserStats]
        .collect().groupBy(_.user_id).map { case (u, xs) =>
          u -> xs.maxBy(_.n_events)
        }
      // identical to the flatMapGroupsWithState (v1) expectations
      assert(rows(7L) === StreamingOps.UserStats(7, 2, 375))
      assert(rows(8L) === StreamingOps.UserStats(8, 1, 1000))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("event-time timers close sessions after the gap (state API v2)") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val stream = MemoryStream[StreamingOps.TimedEvent](spark)
    val base = 1700000000000L
    val mk = (uid: Long, offMin: Long) =>
      StreamingOps.TimedEvent(uid, new Timestamp(base + offMin * 60000))
    val q = StreamingOps.sessionTimeouts(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("timeouts")
      .outputMode("append").start()
    try {
      // user 7: two events 10 min apart → one session of 2
      stream.addData(mk(7, 0), mk(7, 10))
      q.processAllAvailable()
      assert(spark.table("timeouts").isEmpty) // gap not yet passed
      // far-future event advances the watermark past 7's timer (00:40)
      stream.addData(mk(8, 600))
      q.processAllAvailable()
      // timers fire once the watermark (set at batch end) is applied
      stream.addData(mk(8, 601))
      q.processAllAvailable()
      val closed = spark.table("timeouts").as[StreamingOps.ClosedSession]
        .collect().map(c => c.user_id -> c.n_events).toMap
      assert(closed === Map(7L -> 2L)) // user 8 is still active
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  test("stream-stream interval join matches purchases within the window") {
    val clicks = MemoryStream[RawEvent](spark)
    val purchases = MemoryStream[RawEvent](spark)
    val base = 1700000000000L
    val mk = (id: Long, uid: Long, offMin: Long, t: String) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), uid, t, 1.0)
    val q = StreamingOps.clickToPurchase(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib")
      .outputMode("append").start()
    try {
      clicks.addData(mk(1, 7, 0, "click"), mk(2, 8, 0, "click"))
      purchases.addData(
        mk(10, 7, 30, "purchase"),   // within 1h of click 1 → match
        mk(11, 8, 120, "purchase"),  // 2h after click 2 → no match
        mk(12, 9, 10, "purchase"))   // no click for user 9 → no match
      q.processAllAvailable()
      val rows = spark.table("attrib")
        .select($"click_id", $"purchase_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(rows === Set((1L, 10L)))
    } finally q.stop()
  }

  test("streaming exact dedup: watermarked dropDuplicates removes replays") {
    val stream = MemoryStream[RawEvent](spark)
    val base = 1700000000000L
    val mk = (id: Long, offMin: Long) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), 1, "click", 1.0)
    val deduped = stream.toDF()
      .withWatermark("ts", "1 hour")
      .dropDuplicates("event_id")
      .groupBy($"user_id").agg(count(lit(1)).as("n"))
    val q = deduped.writeStream.format("memory").queryName("dedup")
      .outputMode("complete").start()
    try {
      stream.addData(mk(1, 0), mk(2, 1))
      q.processAllAvailable()
      // replay event 1 (same id) in a later micro-batch + one new event
      stream.addData(mk(1, 0), mk(3, 2))
      q.processAllAvailable()
      val n = spark.table("dedup").collect().head.getAs[Long]("n")
      assert(n === 3) // not 4: the replayed event_id was dropped
    } finally q.stop()
  }

  test("dropDuplicatesWithinWatermark: bounded-delay replays deduped, state ages out") {
    val stream = MemoryStream[RawEvent](spark)
    val base = 1700000000000L
    val mk = (id: Long, offMin: Long) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), 1, "click", 1.0)
    val q = StreamingOps.dedupWithinWatermark(stream.toDF(), "30 minutes")
      .writeStream.format("memory").queryName("dedup_wm")
      .outputMode("append").start()
    try {
      stream.addData(mk(1, 0), mk(2, 1))
      q.processAllAvailable()
      // replays of both ids within the delay bound → dropped
      stream.addData(mk(1, 5), mk(2, 6), mk(3, 7))
      q.processAllAvailable()
      // advance event time well past the delay; new ids still emit
      stream.addData(mk(4, 120))
      q.processAllAvailable()
      val ids = spark.table("dedup_wm").select($"event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids === Seq(1L, 2L, 3L, 4L))
    } finally q.stop()
  }

  test("left-outer stream-stream join emits null-matched clicks after watermark") {
    val clicks = MemoryStream[RawEvent](spark)
    val purchases = MemoryStream[RawEvent](spark)
    val base = 1700000000000L
    val mk = (id: Long, uid: Long, offMin: Long, t: String) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), uid, t, 1.0)
    val q = StreamingOps.clickToPurchaseOuter(clicks.toDF(), purchases.toDF())
      .writeStream.format("memory").queryName("attrib_outer")
      .outputMode("append").start()
    try {
      clicks.addData(mk(1, 7, 0, "click"), mk(2, 8, 0, "click"))
      purchases.addData(mk(10, 7, 30, "purchase")) // user 7 converts
      q.processAllAvailable()
      // push both watermarks far past click+interval so the unmatched
      // click's outer row is provably final and must emit
      clicks.addData(mk(5, 9, 600, "click"))
      purchases.addData(mk(11, 9, 600, "purchase"))
      q.processAllAvailable()
      clicks.addData(mk(6, 9, 1200, "click"))
      purchases.addData(mk(12, 9, 1200, "purchase"))
      q.processAllAvailable()
      val rows = spark.table("attrib_outer")
        .select($"click_id", $"purchase_id").collect()
        .map(r => (r.getLong(0),
          if (r.isNullAt(1)) None else Some(r.getLong(1)))).toSet
      assert(rows.contains((1L, Some(10L))), s"inner match missing: $rows")
      assert(rows.contains((2L, None)),
        s"unmatched click did not emit an outer row: $rows")
    } finally q.stop()
  }

  test("file sink: readStream → transform → checkpointed parquet writeStream") {
    val work = java.nio.file.Files.createTempDirectory("graft-fsink")
    val inDir = s"$work/in"; val outDir = s"$work/out"; val ckpt = s"$work/ckpt"
    // seed the source dir with one batch of fixture events
    val events = fixtureEvents(300)
    events.take(150).toDF().write.mode("overwrite").parquet(inDir)
    val stream = spark.readStream.schema(events.toDF().schema).parquet(inDir)
    val q = StreamingOps.hourlyCounts(stream)
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // append outputs only finalized windows; restart with more data to
    // verify the checkpoint resumes instead of reprocessing
    events.drop(150).toDF().write.mode("append").parquet(inDir)
    val q2 = StreamingOps.hourlyCounts(
      spark.readStream.schema(events.toDF().schema).parquet(inDir))
      .writeStream.format("parquet")
      .option("path", outDir).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q2.awaitTermination()
    val result = spark.read.parquet(outDir)
    // every emitted (window, type) count matches the batch plan over all
    // data for the windows that were finalized
    val batch = StreamingOps.hourlyCounts(events.toDF())
    val joined = result.as("s").join(batch.as("b"),
      $"s.wstart" === $"b.wstart" && $"s.event_type" === $"b.event_type")
    assert(result.count() > 0)
    assert(joined.filter($"s.n" =!= $"b.n").count() === 0)
  }

  test("linedir streaming sink: per-epoch part files, idempotent naming") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val dir = Files.createTempDirectory("graft-linedir-ss").toString
    val ckpt = Files.createTempDirectory("graft-linedir-ck").toString
    val stream = MemoryStream[String](spark)
    val q = stream.toDF().toDF("value")
      .writeStream.format("linedir")
      .option("checkpointLocation", ckpt)
      .outputMode("append").start(dir)
    try {
      stream.addData("a", "b")
      q.processAllAvailable()
      stream.addData("c")
      q.processAllAvailable()
      val names = graft.sources.LineDir.listSorted(dir)
      // epoch-qualified names: a replayed epoch rewrites the SAME files,
      // so the at-least-once replay window is idempotent at the sink
      assert(names.nonEmpty && names.forall(_.matches("part-\\d{5}-\\d{5}")),
        s"unexpected part names: $names")
      assert(names.map(_.substring(5, 10)).distinct.size >= 2,
        s"expected parts from >= 2 epochs: $names")
      val lines = names.flatMap(n =>
        Files.readAllLines(Paths.get(dir, n)).asScala)
      assert(lines.sorted === Seq("a", "b", "c"))
      // success-path staging hygiene: every committed epoch sweeps its
      // staged leftovers and removes the dir when empty
      val staging = Files.list(Paths.get(dir)).iterator().asScala
        .filter(_.getFileName.toString.startsWith(".staging"))
      assert(staging.isEmpty, "streaming sink left a .staging dir behind")
    } finally q.stop()
  }

  test("linedir streaming read: file-arrival micro-batches, late-sorting " +
    "names, checkpoint-exact restart") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ldread")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    def put(name: String, lines: String*): Unit =
      Files.write(Paths.get(in, name),
        lines.mkString("", "\n", "\n").getBytes("UTF-8"))

    put("b.txt", "x 1", "y 2")
    def run(): Unit = {
      val q = spark.readStream.format("linedir").load(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    // a file whose name sorts BEFORE the already-seen one still arrives
    // (offsets are seen-sets, not sorted prefixes)
    put("a.txt", "z 3")
    run()
    // restart from checkpoint: only the genuinely-new file is read —
    // provenance says each line was emitted exactly once
    put("c.txt", "w 4")
    run()
    val got = spark.read.parquet(out)
      .select($"value", $"file", $"line").as[(String, String, Long)]
      .collect().toSet
    assert(got === Set(("x 1", "b.txt", 1L), ("y 2", "b.txt", 2L),
      ("z 3", "a.txt", 1L), ("w 4", "c.txt", 1L)))
    // equivalence with the batch read of the final dir state
    val batch = spark.read.format("linedir").load(in)
      .select($"value", $"file", $"line").as[(String, String, Long)]
      .collect().toSet
    assert(got === batch)
  }

  test("linedir streaming: offsets are O(1) and the seen-file log " +
    "compacts + prunes — checkpoint size is bounded over a long replay") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft-ldcompact")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    def put(name: String): Unit =
      Files.write(Paths.get(in, name), s"line of $name\n".getBytes("UTF-8"))
    (0 until 12).foreach(i => put(f"f$i%02d.txt"))
    def run(): Unit = {
      val q = spark.readStream.format("linedir")
        .option("maxFilesPerTrigger", 1)
        .option("logCompactInterval", 4)
        .load(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    // 12 one-file micro-batches ran; every logged offset is a constant-
    // size {"batch":N} index, NOT the seen-file list (the round-5 shape
    // grew O(total files ever seen) per offset entry)
    val offsetFiles = Files.list(Paths.get(ckpt, "offsets"))
      .iterator().asScala.filter(Files.isRegularFile(_))
      .filterNot(_.getFileName.toString.startsWith(".")).toSeq
    assert(offsetFiles.size == 12)
    // each entry = constant engine metadata header + {"batch":N}; sizes
    // across 12 batches may differ by a few digits/conf chars, never by
    // the seen-file list (which is ~16 bytes/file × files-so-far)
    val sizes = offsetFiles.map(Files.size(_))
    assert(sizes.max - sizes.min < 50,
      s"offset entries grow with seen-file count: $sizes")
    // the source's own seen-log compacted (interval 4 → compacts at
    // batches 0,4,8) and commit pruned everything the newest compact
    // folds in: ≤ 1 compact + interval live deltas survive 12 batches
    val seenDir = Files.walk(Paths.get(ckpt)).iterator().asScala
      .find(_.getFileName.toString == "linedir-seen").get
    val logFiles = Files.list(seenDir).iterator().asScala
      .map(_.getFileName.toString).toSeq
    assert(logFiles.count(_.endsWith(".compact")) == 1, logFiles.toString)
    assert(logFiles.count(_.endsWith(".delta")) <= 4, logFiles.toString)
    // restart-exact resume: a 13th file is one more batch, nothing replays
    put("f12.txt")
    run()
    val got = spark.read.parquet(out)
      .select($"value", $"file").as[(String, String)].collect().toSet
    val batch = spark.read.format("linedir").load(in)
      .select($"value", $"file").as[(String, String)].collect().toSet
    assert(got === batch)
    assert(got.size == 13)
  }

  test("linedir streaming: maxFilesPerTrigger splits a backlog into " +
    "bounded batches with results ≡ the unthrottled replay") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ldadmit")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    (1 to 5).foreach { i =>
      Files.write(Paths.get(in, s"f$i.txt"), s"a $i\nb $i\n".getBytes)
    }
    val q = spark.readStream.format("linedir")
      .option("maxFilesPerTrigger", 2)
      .load(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // 5-file backlog at 2 files/trigger → 3 batches of 2/2/1 files
    // (2 lines per file); SupportsTriggerAvailableNow makes AvailableNow
    // honor the cap instead of draining everything in one batch
    val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(perBatch.sorted.toSeq == Seq(2L, 4L, 4L),
      s"expected 3 capped batches, got ${perBatch.mkString(",")}")
    val got = spark.read.parquet(out)
      .select($"value", $"file", $"line").as[(String, String, Long)]
      .collect().toSet
    val batch = spark.read.format("linedir").load(in)
      .select($"value", $"file", $"line").as[(String, String, Long)]
      .collect().toSet
    assert(got === batch)
  }

  test("linedir streaming: maxBytesPerTrigger soft-caps batch bytes, " +
    "one over-cap file still progresses") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ldbytes")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    // f1+f2 fit one 40-byte batch; f3 alone exceeds the cap but must
    // still be admitted (soft cap); f4 follows in its own batch
    Files.write(Paths.get(in, "f1.txt"), ("a" * 15 + "\n").getBytes)
    Files.write(Paths.get(in, "f2.txt"), ("b" * 15 + "\n").getBytes)
    Files.write(Paths.get(in, "f3.txt"), ("c" * 99 + "\n").getBytes)
    Files.write(Paths.get(in, "f4.txt"), ("d" * 15 + "\n").getBytes)
    val q = spark.readStream.format("linedir")
      .option("maxBytesPerTrigger", 40L)
      .load(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    // batches: {f1,f2} (32B ≤ 40), {f3} (over-cap alone), {f4}
    val perBatch = q.recentProgress.map(_.numInputRows).filter(_ > 0)
    assert(perBatch.sorted.toSeq == Seq(1L, 1L, 2L),
      s"expected 3 byte-capped batches, got ${perBatch.mkString(",")}")
    val got = spark.read.parquet(out)
      .select($"file").as[String].collect().toSet
    assert(got === Set("f1.txt", "f2.txt", "f3.txt", "f4.txt"))
  }

  test("linedir streaming: seen-log round-trips filenames with tabs " +
    "and backslashes across a restart") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ldesc")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    // legal-on-linux hostile names: the log stores one '<mtime>\t<name>'
    // line per file, so an unescaped tab or backslash would corrupt the
    // restart restore
    val weird = Seq("a\tb.txt", "c\\d.txt", "plain.txt")
    weird.foreach(n =>
      Files.write(Paths.get(in, n), s"line in $n\n".getBytes("UTF-8")))
    def run(): Unit = {
      val q = spark.readStream.format("linedir").load(in)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    run()
    // restart: the restored seen-set must match the hostile names
    // exactly — a mis-parse would re-read (dupes) or drop them
    run()
    val got = spark.read.parquet(out)
      .select($"file").as[String].collect().toSeq.sorted
    assert(got === weird.sorted,
      "each file must appear exactly once across restarts")
  }

  test("linedir streaming: maxFileAgeMs retention ignores aged-out " +
    "files and bounds the compacted seen-set") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    val work = Files.createTempDirectory("graft-ldage")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    Files.write(Paths.get(in, "old.txt"), "stale\n".getBytes)
    Files.setLastModifiedTime(Paths.get(in, "old.txt"),
      FileTime.fromMillis(946684800000L)) // 2000-01-01
    Files.write(Paths.get(in, "new.txt"), "fresh\n".getBytes)
    val q = spark.readStream.format("linedir")
      .option("maxFileAgeMs", 3600L * 1000L)
      .load(in)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(out)
      .select($"value").as[String].collect().toSet
    assert(got === Set("fresh"),
      "a file older than the retention window must be ignored")
  }

  test("linedir streaming read drives a watermarked agg ≡ batch twin") {
    import java.nio.file.{Files, Paths}
    val work = Files.createTempDirectory("graft-ldagg")
    val in = s"$work/in"
    Files.createDirectories(Paths.get(in))
    // reference-style lines: "<word> <count>"; two arrival waves
    Files.write(Paths.get(in, "f1.txt"), "a 1\nb 2\na 3\n".getBytes)
    val counts = (df: org.apache.spark.sql.DataFrame) => df
      .select(split($"value", " ").getItem(0).as("w"),
        split($"value", " ").getItem(1).cast("long").as("n"))
      .groupBy("w").agg(sum($"n").as("total"))
    val q = counts(spark.readStream.format("linedir").load(in))
      .writeStream.format("memory").queryName("ldagg")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      Files.write(Paths.get(in, "f2.txt"), "b 5\nc 7\n".getBytes)
      q.processAllAvailable()
      val streamed = spark.table("ldagg").as[(String, Long)].collect().toSet
      val batch = counts(spark.read.format("linedir").load(in))
        .as[(String, Long)].collect().toSet
      assert(streamed === batch)
      assert(streamed === Set(("a", 4L), ("b", 7L), ("c", 7L)))
    } finally q.stop()
  }

  test("streaming word count over a reference-style text dir") {
    // the reference's canonical job (wc over a directory of text files,
    // reference submit.py:41-50) as a CONTINUOUS query: new files
    // arriving in the input dir update the counts incrementally —
    // inexpressible in the reference's batch-only model
    val work = java.nio.file.Files.createTempDirectory("graft-swc")
    val inDir = s"$work/in"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(inDir))
    def addFile(name: String, content: String): Unit =
      java.nio.file.Files.write(
        java.nio.file.Paths.get(inDir, name), content.getBytes("UTF-8"))
    addFile("f1.txt", "the quick fox\nthe dog\n")
    val counts = spark.readStream.text(inDir)
      .select(explode(split($"value", " ")).as("word"))
      .filter($"word" =!= "")
      .groupBy($"word").agg(count(lit(1)).as("cnt"))
    val q = counts.writeStream.format("memory").queryName("swc")
      .outputMode("complete").start()
    try {
      q.processAllAvailable()
      val first = spark.table("swc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(first === Map("the" -> 2L, "quick" -> 1L, "fox" -> 1L, "dog" -> 1L))
      addFile("f2.txt", "the fox barks\n")
      q.processAllAvailable()
      val second = spark.table("swc").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(second === Map("the" -> 3L, "quick" -> 1L, "fox" -> 2L,
        "dog" -> 1L, "barks" -> 1L))
    } finally q.stop()
  }

  test("watermark drops data later than the allowed lateness") {
    val stream = MemoryStream[RawEvent](spark)
    val base = 1700000000000L
    val mk = (id: Long, offMin: Long) =>
      RawEvent(id, new Timestamp(base + offMin * 60000), 1, "click", 1.0)
    val q = StreamingOps.hourlyCounts(stream.toDF(), watermark = "10 minutes")
      .writeStream.format("memory").queryName("wm")
      .outputMode("append").start()
    try {
      stream.addData(mk(1, 0), mk(2, 5))
      q.processAllAvailable()
      // advance event time far beyond watermark → first hour finalizes
      stream.addData(mk(3, 600))
      q.processAllAvailable()
      // a very late event for the finalized window must be dropped
      stream.addData(mk(4, 1))
      q.processAllAvailable()
      val finalized = spark.table("wm").filter($"n" === 2).collect()
      assert(finalized.length === 1) // the first hour emitted once, n=2 (not 3)
    } finally q.stop()
  }

  test("stream-static enrichment equals the batch join, stateless") {
    val events = fixtureEvents(300)
    val dim = events.map(_.user_id).distinct.sorted.map(u =>
      (u, if (u % 2 == 0) "even" else "odd")).toDF("user_id", "tier")
    val stream = MemoryStream[RawEvent](spark)
    val q = StreamingOps.enrichWithDim(stream.toDF(), dim)
      .groupBy($"tier").agg(count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("enriched")
      .outputMode("complete").start()
    try {
      stream.addData(events.take(150)); q.processAllAvailable()
      stream.addData(events.drop(150)); q.processAllAvailable()
      val streamed = spark.table("enriched").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val batch = StreamingOps.enrichWithDim(events.toDF(), dim)
        .groupBy($"tier").agg(count(lit(1)).as("n")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch && streamed.values.sum === 300L)
    } finally q.stop()
  }

  test("decontamination gate: known hashes dropped, equals batch anti-join") {
    // reference set = even hashes; stream carries 0..99 → 50 survivors
    val docs = (0L until 100L).map(i => (i, f"h$i%03d"))
    val ref = docs.filter(_._1 % 2 == 0).map(_._2).toDF("h")
    val stream = MemoryStream[(Long, String)](spark)
    val q = StreamingOps.decontaminate(
        stream.toDF().toDF("doc_id", "h"), ref)
      .writeStream.format("memory").queryName("decon")
      .outputMode("append").start()
    try {
      stream.addData(docs.take(40)); q.processAllAvailable()
      stream.addData(docs.drop(40)); q.processAllAvailable()
      val streamed = spark.table("decon").select("doc_id").collect()
        .map(_.getLong(0)).sorted
      val batch = StreamingOps.decontaminate(
          docs.toDF("doc_id", "h"), ref)
        .select("doc_id").collect().map(_.getLong(0)).sorted
      assert(streamed.toSeq === batch.toSeq)
      assert(streamed.forall(_ % 2 == 1) && streamed.length === 50)
    } finally q.stop()
  }

  test("idempotent foreachBatch sink: replayed batch does not duplicate") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    val cp = java.nio.file.Files.createTempDirectory("graft-sink-cp").toString
    val events = fixtureEvents(100)
    val stream = MemoryStream[RawEvent](spark)
    val q = StreamingOps.idempotentParquetSink(stream.toDF(), dir, cp)
    try {
      stream.addData(events.take(60)); q.processAllAvailable()
      stream.addData(events.drop(60)); q.processAllAvailable()
    } finally q.stop()
    val once = spark.read.parquet(dir).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(once.length === 100)
    // simulate the at-least-once failure window: batch 0 is REPLAYED
    StreamingOps.commitBatch(events.take(60).toDF(), 0L, dir)
    val replayed = spark.read.parquet(dir).drop("batch_id")
      .collect().map(_.toString).sorted.toSeq
    assert(replayed === once) // overwrite made the replay a no-op
  }

  test("a checkpointed linedir replay into commitBatch spawns no chmod or " +
    "readlink process") {
    import java.nio.file.{Files, Paths}
    import jdk.jfr.Recording
    import jdk.jfr.consumer.RecordingFile
    import scala.jdk.CollectionConverters._
    val work = Files.createTempDirectory("graft-ldspawn")
    val in = s"$work/in"; val out = s"$work/out"; val ckpt = s"$work/ckpt"
    Files.createDirectories(Paths.get(in))
    // one hour of "micros,user,type,value" lines per file
    val base = 1700000000000000L
    (0 until 3).foreach { h =>
      val lines = (0 until 20).map(m =>
        s"${base + h * 3600000000L + m * 60000000L},${m % 4},click,1.5")
      Files.write(Paths.get(in, s"f$h.txt"), lines.asJava)
    }
    // Shell's static initializer probes `setsid` once per JVM; keep that
    // spawn outside the recording
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try {
      val events = spark.readStream.format("linedir")
        .option("maxFilesPerTrigger", 1).load(in)
        .select(split($"value", ",").as("p"))
        .select(timestamp_micros($"p"(0).cast("long")).as("ts"),
          $"p"(1).cast("long").as("user_id"), $"p"(2).as("event_type"),
          $"p"(3).cast("double").as("value"))
      val q = StreamingOps.hourlyCounts(events).writeStream
        .foreachBatch((b: org.apache.spark.sql.Dataset[Row], id: Long) =>
          StreamingOps.commitBatch(b.toDF(), id, out))
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    } finally rec.stop()
    val dump = work.resolve("spawns.jfr")
    rec.dump(dump); rec.close()
    val spawned = RecordingFile.readAllEvents(dump).asScala
      .map(_.getString("command"))
      .filter(c => c.startsWith("chmod") || c.startsWith("readlink"))
    assert(spawned.size === 0,
      s"${spawned.size} chmod/readlink spawns, e.g. ${spawned.take(3)}")
    // the replay did commit state, offsets and sink files
    assert(spark.read.parquet(out).count() > 0)
  }
}
