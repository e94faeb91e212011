package graft

import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.StreamingOps
import graft.streaming.StreamingOps.Event

/** Structured Streaming operators driven through real streaming queries
  * (MemoryStream source → memory sink, processAllAvailable). */
class StreamingSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  // offset from epoch: ts==0 equals the initial watermark and is dropped as late
  private val Base = 86400000L
  private def ts(minutes: Long): Timestamp = new Timestamp(Base + minutes * 60000L)

  test("windowed stats aggregate a stream with watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    source.addData(
      Event(ts(5), 1L, "view", 1.0), Event(ts(20), 1L, "view", 2.0),
      Event(ts(65), 2L, "click", 3.0), Event(ts(70), 1L, "view", 4.0))
    val q = StreamingOps.windowedStats(source.toDF(), "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("win_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("win_out")
      .selectExpr("window.start", "event_type", "n_events", "total_value")
      .collect().map(r => ((r.getTimestamp(0).getTime - Base) / 60000, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(rows === Set((0L, "view", 2L, 3.0), (60L, "click", 1L, 3.0), (60L, "view", 1L, 4.0)))
  }

  test("sessionize closes sessions after the inactivity gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    // user 1: events at 0,10 min (one session), then 120 min (new session);
    // watermark pushed forward by a late marker event from user 99
    source.addData(
      Event(ts(0), 1L, "view", 1.0), Event(ts(10), 1L, "view", 2.0),
      Event(ts(120), 1L, "view", 4.0), Event(ts(300), 99L, "view", 0.0))
    val q = StreamingOps.sessionize(source.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sess_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable()
    // second batch advances the watermark so timed-out sessions flush
    source.addData(Event(ts(400), 99L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess_out")
      .collect().map(r => (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
        (r.getTimestamp(2).getTime - Base) / 60000, r.getLong(3))).toSet
    // user 1's first session (0-10, 2 events) and second (120, 1 event) closed
    assert(sessions.contains((1L, 0L, 10L, 2L)))
    assert(sessions.contains((1L, 120L, 120L, 1L)))
  }

  test("sessionize absorbs a late in-gap event without moving bounds backwards") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = StreamingOps.sessionize(source.toDS(), gapMinutes = 30)
      .writeStream.outputMode("append").format("memory").queryName("sess_late_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    source.addData(Event(ts(60), 1L, "view", 1.0), Event(ts(70), 1L, "view", 1.0))
    q.processAllAvailable()
    // late (but above-watermark) event inside the session window
    source.addData(Event(ts(65), 1L, "view", 1.0))
    q.processAllAvailable()
    // two watermark advances flush the timed-out session
    source.addData(Event(ts(300), 99L, "view", 0.0))
    q.processAllAvailable()
    source.addData(Event(ts(400), 99L, "view", 0.0))
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("sess_late_out")
      .collect().map(r => (r.getLong(0), (r.getTimestamp(1).getTime - Base) / 60000,
        (r.getTimestamp(2).getTime - Base) / 60000, r.getLong(3))).toSet
    // bounds stay [60, 70] and the late event is counted
    assert(sessions.contains((1L, 60L, 70L, 3L)))
  }

  test("lastNPerKey keeps a bounded rolling window in state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    source.addData((1 to 5).map(i => Event(ts(i), 7L, "view", i.toDouble)): _*)
    val q = StreamingOps.lastNPerKey(source.toDS(), n = 3)
      .writeStream.outputMode("append").format("memory").queryName("lastn_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    q.processAllAvailable(); q.stop()
    val window = spark.table("lastn_out").collect().last.getSeq[Long](1)
    assert(window.length === 3)
    assert(window === Seq(ts(3), ts(4), ts(5)).map(_.getTime))
  }

  test("lastNPerKey evicts idle keys once the watermark passes the idle gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = StreamingOps.lastNPerKey(source.toDS(), n = 3,
        watermarkDelay = "0 seconds", idleGapMs = 5 * 60000L)
      .writeStream.outputMode("append").format("memory").queryName("evict_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    source.addData(Event(ts(1), 7L, "view", 1.0), Event(ts(2), 7L, "view", 2.0))
    q.processAllAvailable()
    // another key pushes the watermark far beyond key 7's idle gap → evict
    source.addData(Event(ts(100), 8L, "view", 3.0))
    q.processAllAvailable()
    // key 7 returns: state restarted, window must NOT contain ts(1)/ts(2)
    source.addData(Event(ts(101), 7L, "view", 4.0))
    q.processAllAvailable(); q.stop()
    val last7 = spark.table("evict_out").filter($"_1" === 7L)
      .collect().map(_.getSeq[Long](1)).last
    assert(last7 === Seq(ts(101).getTime))
  }

  test("streaming dedup drops re-delivered keys within the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = StreamingOps.dedupStream(source.toDF(), Seq("user_id", "event_type"))
      .writeStream.outputMode("append").format("memory").queryName("dedup_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    source.addData(
      Event(ts(1), 1L, "view", 1.0), Event(ts(2), 1L, "view", 2.0), // dup key
      Event(ts(3), 1L, "click", 3.0), Event(ts(4), 2L, "view", 4.0))
    q.processAllAvailable()
    source.addData(Event(ts(5), 1L, "view", 5.0)) // still within watermark → dup
    q.processAllAvailable(); q.stop()
    val rows = spark.table("dedup_out").collect()
      .map(r => (r.getLong(1), r.getString(2))).toSeq
    assert(rows.length === 3)
    assert(rows.toSet === Set((1L, "view"), (1L, "click"), (2L, "view")))
  }

  test("windowedStats streaming matches its own batch run on the real events fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    val fixture = Tables.events(spark, "/root/testdata/sf0.01")
      .select($"ts", $"user_id", $"event_type", $"value").as[Event]
      .collect().sortBy(_.ts.getTime)
    val source = MemoryStream[Event]
    val q = StreamingOps.windowedStats(source.toDF(), "1 hour")
      .writeStream.outputMode("complete").format("memory").queryName("win_fix")
      .trigger(Trigger.ProcessingTime(0)).start()
    fixture.grouped(math.max(1, fixture.length / 4 + 1)).foreach { chunk =>
      source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    def normalize(df: org.apache.spark.sql.DataFrame) = df
      .selectExpr("window.start AS ws", "event_type", "n_events", "total_value")
      .collect()
      .map(r => (r.getTimestamp(0).getTime, r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val streamed = normalize(spark.table("win_fix"))
    // same operator over the same rows as one batch DataFrame (the
    // streaming/batch contract: identical plan semantics)
    val batch = normalize(StreamingOps.windowedStats(fixture.toSeq.toDF(), "1 hour"))
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("sessionize matches batch lag/cumsum sessions on the real events fixture") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // ms-truncated fixture (SessionState tracks Timestamp.getTime ms; the
    // batch form must diff at the same resolution for exact gap parity)
    val fixture = Tables.events(spark, "/root/testdata/sf0.01")
      .withColumn("ts", timestamp_millis(floor(unix_micros($"ts") / 1000).cast("long")))
      .select($"ts", $"user_id", $"event_type", $"value")
      .as[Event]
      .collect().sortBy(_.ts.getTime)

    val source = MemoryStream[Event]
    val q = StreamingOps.sessionize(source.toDS())
      .writeStream.outputMode("append").format("memory").queryName("fix_sessions")
      .trigger(Trigger.ProcessingTime(0)).start()
    // four micro-batches in time order, then a far-future sentinel to push
    // the watermark past every open session's gap
    fixture.grouped(math.max(1, fixture.length / 4 + 1)).foreach { chunk =>
      source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    val sentinel = new Timestamp(fixture.last.ts.getTime + 48L * 3600 * 1000)
    source.addData(Event(sentinel, -1L, "flush", 0.0))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("fix_sessions")
      .filter($"user_id" >= 0)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet

    val w = Window.partitionBy($"user_id").orderBy($"ts".asc)
    val batch = fixture.toSeq.toDS().toDF()
      .withColumn("ms", floor(unix_micros($"ts") / 1000).cast("long"))
      .withColumn("prev", lag($"ms", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ms" - $"prev" > 30L * 60 * 1000, 1L).otherwise(0L))
      .withColumn("seq", sum($"new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"seq")
      .agg(min($"ms").as("start_ms"), max($"ms").as("end_ms"), count(lit(1)).as("n"))
      .select($"user_id", $"start_ms", $"end_ms", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("sessionize runs e2e from a FILE source under Trigger.AvailableNow") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    // MemoryStream bypasses source discovery and offset tracking — the part
    // that breaks in real deployments. This drives the same sessionize over
    // a parquet DIRECTORY: files discovered by mtime, one per micro-batch
    // (maxFilesPerTrigger=1), offsets checkpointed, a far-future sentinel
    // file pushing the watermark so every real session times out and flushes.
    val events = Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("ts", timestamp_millis(floor(unix_micros($"ts") / 1000).cast("long")))
      .select($"ts", $"user_id", $"event_type", $"value")
      .as[Event].collect().sortBy(_.ts.getTime)

    val root = java.nio.file.Files.createTempDirectory("graft_filestream")
    val inDir = root.resolve("in"); val ckpt = root.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(inDir)
    val sentinel = Event(new Timestamp(events.last.ts.getTime + 48L * 3600 * 1000),
      -1L, "flush", 0.0)
    val chunks = events.grouped(events.length / 3 + 1).toSeq :+ Array(sentinel)
    chunks.zipWithIndex.foreach { case (chunk, i) =>
      val staging = root.resolve(s"stage_$i")
      chunk.toSeq.toDS().coalesce(1).write.parquet(staging.toString)
      val part = java.nio.file.Files.list(staging).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val target = inDir.resolve(f"part-$i%04d.parquet")
      java.nio.file.Files.move(part, target)
      // strictly ascending mtimes: time order == discovery order
      target.toFile.setLastModified(1700000000000L + i * 60000L)
    }

    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[Event]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .as[Event]
    val q = StreamingOps.sessionize(stream)
      .writeStream.outputMode("append").format("memory").queryName("file_sessions")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "AvailableNow query did not drain in time")

    val streamed = spark.table("file_sessions")
      .filter($"user_id" >= 0)
      .select($"user_id", $"session_start", $"session_end", $"n_events")
      .collect()
      .map(r => (r.getLong(0), r.getTimestamp(1).getTime, r.getTimestamp(2).getTime, r.getLong(3)))
      .toSet

    // evt_sessions' batch lag/cumsum form over the same ms-truncated events
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc)
    val batch = events.toSeq.toDS().toDF()
      .withColumn("ms", floor(unix_micros($"ts") / 1000).cast("long"))
      .withColumn("prev", lag($"ms", 1).over(w))
      .withColumn("new_sess",
        when($"prev".isNull || $"ms" - $"prev" > 30L * 60 * 1000, 1L).otherwise(0L))
      .withColumn("seq", sum($"new_sess")
        .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"seq")
      .agg(min($"ms").as("start_ms"), max($"ms").as("end_ms"), count(lit(1)).as("n"))
      .select($"user_id", $"start_ms", $"end_ms", $"n")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet

    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("featurePipeline runs unchanged on a stream and matches its batch output") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // the clean→chunk→embed composition is all narrow/stateless, so the SAME
    // function body is a valid streaming query — the S8 continuous-ingestion
    // story needs no separate code path
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").limit(50)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val source = MemoryStream[(Long, String)]
    val q = graft.pipelines.Pipelines
      .featurePipeline(source.toDF().toDF("doc_id", "text"), qualityThreshold = 0.0)
      .select($"chunk_id", $"document_id", $"word_count", size($"embedding").as("dim"))
      .writeStream.outputMode("append").format("memory").queryName("fp_out")
      .trigger(Trigger.ProcessingTime(0)).start()
    docs.grouped(20).foreach { chunk => source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("fp_out").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    val batch = graft.pipelines.Pipelines
      .featurePipeline(docs.toSeq.toDF("doc_id", "text"), qualityThreshold = 0.0)
      .select($"chunk_id", $"document_id", $"word_count", size($"embedding").as("dim"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("batch sessionization twin agrees on the same events") {
    import spark.implicits._
    val events = Seq(
      Event(ts(0), 1L, "view", 1.0), Event(ts(10), 1L, "view", 2.0),
      Event(ts(120), 1L, "view", 4.0)).toDS()
    // batch lag/cumsum form (as in EventQueries.evt_sessions)
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy($"user_id").orderBy($"ts".asc)
    val sessions = events.toDF()
      .withColumn("us", unix_micros($"ts"))
      .withColumn("prev", lag($"us", 1).over(w))
      .withColumn("new_sess", when($"prev".isNull || $"us" - $"prev" > 30L * 60 * 1000000L, 1L).otherwise(0L))
      .withColumn("seq", sum($"new_sess").over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy($"user_id", $"seq").count()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(sessions === Set((1L, 1L, 2L), (1L, 2L, 1L)))
  }

  test("streaming near-dup runs e2e from a FILE source under Trigger.AvailableNow") {
    import spark.implicits._
    import graft.operators.Dedup
    // same deployment shape as the sessionize file-source case: parquet
    // directory, mtime-ordered discovery, one file per micro-batch,
    // checkpointed offsets — the parts MemoryStream bypasses
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select($"doc_id", $"text").collect().map(r => (r.getLong(0), r.getString(1)))
    val root = java.nio.file.Files.createTempDirectory("graft_neardupstream")
    val inDir = root.resolve("in"); val ckpt = root.resolve("ckpt").toString
    java.nio.file.Files.createDirectories(inDir)
    docs.grouped(docs.length / 2 + 1).zipWithIndex.foreach { case (chunk, i) =>
      val staging = root.resolve(s"stage_$i")
      chunk.zipWithIndex.map { case ((id, text), j) =>
        StreamingOps.DocEvent(new Timestamp(Base + (i * 1000L + j) * 1000L), id, text)
      }.toSeq.toDS().coalesce(1).write.parquet(staging.toString)
      val part = java.nio.file.Files.list(staging).iterator().asScala
        .find(_.toString.endsWith(".parquet")).get
      val target = inDir.resolve(f"part-$i%04d.parquet")
      java.nio.file.Files.move(part, target)
      target.toFile.setLastModified(1700000000000L + i * 60000L)
    }
    val stream = spark.readStream
      .schema(implicitly[org.apache.spark.sql.Encoder[StreamingOps.DocEvent]].schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(inDir.toString)
      .as[StreamingOps.DocEvent]
    val q = StreamingOps.nearDupPairsStream(stream)
      .writeStream.outputMode("append").format("memory").queryName("file_neardup")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(180000), "AvailableNow query did not drain in time")
    val streamed = spark.table("file_neardup").select($"id_a", $"id_b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val batch = Dedup.minHashPairsFast(Tables.documents(spark, "/root/testdata/sf0.001"))
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(batch.subsetOf(streamed),
      s"file-source streaming missed batch-verified pairs: ${batch -- streamed}")
  }

  test("streaming near-dup flags exact and near duplicates, not distinct docs") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog and then runs far away home"
    val near = "the quick brown fox jumps over the lazy dog and then walks far away home"
    val other = "completely different subject matter about spark shuffles and parquet readers"
    val source = MemoryStream[StreamingOps.DocEvent]
    val q = StreamingOps.nearDupPairsStream(source.toDS())
      .writeStream.outputMode("append").format("memory").queryName("neardup_unit")
      .trigger(Trigger.ProcessingTime(0)).start()
    source.addData(
      StreamingOps.DocEvent(ts(1), 10L, base),
      StreamingOps.DocEvent(ts(2), 20L, base),  // exact dup of 10
      StreamingOps.DocEvent(ts(3), 30L, near),  // near dup of both
      StreamingOps.DocEvent(ts(4), 40L, other)) // unrelated
    q.processAllAvailable(); q.stop()
    val pairs = spark.table("neardup_unit")
      .select($"id_a", $"id_b", $"est_jaccard").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val exact = pairs.filter(p => p._1 == 10L && p._2 == 20L)
    assert(exact.nonEmpty && exact.forall(_._3 === 1.0))
    assert(pairs.exists(p => p._1 == 10L && p._2 == 30L))
    assert(pairs.forall(p => p._1 != 40L && p._2 != 40L))
    // ids always emitted ordered
    assert(pairs.forall(p => p._1 < p._2))
  }

  test("streaming near-dup pairs cover the batch minhash pair set on the fixture") {
    import spark.implicits._
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.01"
    val docs = Tables.documents(spark, dir).select($"doc_id", $"text")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    val source = MemoryStream[StreamingOps.DocEvent]
    val q = StreamingOps.nearDupPairsStream(source.toDS())
      .writeStream.outputMode("append").format("memory").queryName("neardup_fix")
      .trigger(Trigger.ProcessingTime(0)).start()
    // two micro-batches: pairs must also surface across batch boundaries.
    // One SECOND per doc (not the minute-granular ts helper): the whole
    // stream must span less than the operator's 1h idle-eviction gap, or
    // early buckets are legitimately evicted before the second batch lands.
    def secTs(s: Long) = new Timestamp(Base + s * 1000L)
    docs.grouped(docs.length / 2 + 1).zipWithIndex.foreach { case (chunk, ci) =>
      source.addData(chunk.zipWithIndex.map { case ((id, text), i) =>
        StreamingOps.DocEvent(secTs(ci * 1000L + i), id, text)
      }.toIndexedSeq: _*)
      q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("neardup_fix").select($"id_a", $"id_b")
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // batch twin, true-Jaccard verified at the 0.8 production bar; the
    // streaming estimator (default margin 2/k under the bar) must not miss
    // any pair the batch path verifies
    val batch = Dedup.minHashPairsFast(Tables.documents(spark, dir))
      .select($"id_a", $"id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(batch.nonEmpty)
    assert(batch.subsetOf(streamed),
      s"streaming missed batch-verified pairs: ${batch -- streamed}")
  }

  test("asOfStream matches a right that arrives in a LATER micro-batch (out-of-order)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[Event]
    val q = StreamingOps.asOfStream(source.toDS(), watermarkDelay = "30 minutes")
      .writeStream.outputMode("append").format("memory").queryName("asof_ooo")
      .trigger(Trigger.ProcessingTime(0)).start()
    // purchase first; its preceding click only arrives next micro-batch
    source.addData(Event(ts(20), 1L, "purchase", 9.0))
    q.processAllAvailable()
    source.addData(Event(ts(10), 1L, "click", 1.0))
    q.processAllAvailable()
    assert(spark.table("asof_ooo").count() === 0,
      "nothing may emit before the watermark finalizes the left")
    // far-future click pushes the watermark past the purchase → exactly one
    // match, against the out-of-order click, not the flusher
    source.addData(Event(ts(24 * 60), 1L, "click", 2.0))
    q.processAllAvailable(); q.stop()
    val got = spark.table("asof_ooo")
      .select($"ts", $"matched_ts", $"matched_value")
      .collect().map(r => (r.getTimestamp(0), r.getTimestamp(1), r.getDouble(2))).toSet
    assert(got === Set((ts(20), ts(10), 1.0)))
  }

  test("asOfStream matches the batch as-of join on the real events fixture") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    implicit val sqlCtx = spark.sqlContext
    // full microsecond resolution — the operator's real input (AsOfState
    // buffers micros; ms truncation would let sub-ms-later rights match)
    val fixture = Tables.events(spark, "/root/testdata/sf0.01")
      .select($"ts", $"user_id", $"event_type", $"value").as[Event]
      .collect().sortBy(e => (e.ts.getTime, e.ts.getNanos))
    def toUs(t: java.sql.Timestamp): Long =
      Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

    val source = MemoryStream[Event]
    // idle eviction off (longer than the fixture span): eviction is the
    // deliberate state-size/completeness trade — a user's last click is
    // forgotten after the idle gap — and batch as-of has no such knob, so
    // exact parity is defined with it disabled. The out-of-order test above
    // covers the eviction-enabled path.
    val q = StreamingOps.asOfStream(source.toDS(),
        idleGapMs = 400L * 24 * 3600 * 1000)
      .writeStream.outputMode("append").format("memory").queryName("asof_fix")
      .trigger(Trigger.ProcessingTime(0)).start()
    fixture.grouped(math.max(1, fixture.length / 4 + 1)).foreach { chunk =>
      source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    // sentinel click for a fake user pushes the watermark past every left
    val sentinel = new Timestamp(fixture.last.ts.getTime + 48L * 3600 * 1000)
    source.addData(Event(sentinel, -1L, "click", 0.0))
    q.processAllAvailable(); q.stop()

    val streamed = spark.table("asof_fix").filter($"user_id" >= 0)
      .select($"user_id", $"ts", $"value", $"matched_ts", $"matched_value")
      .collect()
      .map(r => (r.getLong(0), toUs(r.getTimestamp(1)), r.getDouble(2),
        toUs(r.getTimestamp(3)), r.getDouble(4)))
      .toSet

    val ev = fixture.toSeq.toDF().withColumn("us", expr("unix_micros(ts)"))
    val purchases = ev.filter($"event_type" === "purchase")
      .select($"user_id", $"us", $"value")
    val clicks = ev.filter($"event_type" === "click")
      .groupBy($"user_id", $"us").agg(max($"value").as("click_value"))
    val batch = graft.operators.AsOf
      .asOfJoin(purchases, clicks, Seq("user_id"), "us", Seq("click_value"))
      .select($"user_id", $"us", $"value", $"asof_us", $"asof_click_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("packStream matches batch packSequences fed in id order, across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // real fixture docs: shard by lang, token counts precomputed, id order
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("lang"),
        graft.operators.TextAnalysis.whitespaceTokens(col("text")).cast("long").as("n_tokens"))
      .collect().sortBy(_.getLong(0))
      .map(r => StreamingOps.PackDoc(new java.sql.Timestamp(r.getLong(0)),
        r.getString(1), r.getLong(0), r.getLong(2)))
    val source = MemoryStream[StreamingOps.PackDoc]
    val q = StreamingOps.packStream(source.toDS(), budget = 2048)
      .writeStream.outputMode("append").format("memory").queryName("pack_stream")
      .trigger(Trigger.ProcessingTime(0)).start()
    // three micro-batches in id order: the cursor must carry across batches
    docs.grouped(math.max(1, docs.length / 3 + 1)).foreach { chunk =>
      source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("pack_stream")
      .select("doc_id", "pack_start", "pack_end", "start_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val batch = graft.operators.Sampling.packSequences(
        docs.toSeq.toDF("ts", "lang", "doc_id", "n_tokens").drop("ts"),
        col("n_tokens"), budget = 2048, shardCol = "lang", idCol = "doc_id")
      .select("doc_id", "pack_start", "pack_end", "start_offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("celledPairsStream equals batch embeddingPairsCelled fed in id order") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, round}
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    // the SAME index epoch on both sides: the seeded 16-centroid sample
    val cents = graft.operators.Similarity.seededCentroids(emb, 16, 31L)
    val centArr = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val vecs = emb.select("vec_id", "embedding").collect().sortBy(_.getLong(0))
      .map(r => StreamingOps.VecEvent(new java.sql.Timestamp(r.getLong(0)),
        r.getLong(0), r.getSeq[Float](1)))
    val source = MemoryStream[StreamingOps.VecEvent]
    val q = StreamingOps.celledPairsStream(source.toDS(), centArr, minCosine = 0.45)
      .writeStream.outputMode("append").format("memory").queryName("celled_stream")
      .trigger(Trigger.ProcessingTime(0)).start()
    // two micro-batches: residents must carry across the boundary
    vecs.grouped(math.max(1, vecs.length / 2 + 1)).foreach { chunk =>
      source.addData(chunk.toIndexedSeq: _*); q.processAllAvailable()
    }
    q.stop()
    val streamed = spark.table("celled_stream")
      .select(col("left_id"), col("right_id"), round(col("cosine"), 9).as("c"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val batch = graft.operators.Dedup.embeddingPairsCelled(emb, minCosine = 0.45,
        nlist = 16, step = 31L, nprobe = 2)
      .select(col("left_id"), col("right_id"), round(col("cosine"), 9).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed.nonEmpty)
    assert(streamed === batch)
  }

  test("streaming ingest flags against the stored IVF index, appends survivors, and equals the batch loop") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // nlist 17 → a store table name no other suite builds: this test drops
    // and rebuilds its store freely without disturbing shared fixtures
    val nlist = 17; val step = 31L
    val storeName = TableStore.tableName(s"ivf${nlist}_$step", dir)

    def emb(id: Long): Seq[Float] =
      Tables.embeddings(spark, dir).filter(col("vec_id") === id)
        .select("embedding").head.getSeq[Float](0)
    val dupOfStore = emb(7L)              // exact copy of a stored vector
    val fresh1 = emb(3L).map(x => -x)     // anti-correlated with the store bulk
    val fresh2 = emb(5L).map(x => -x)

    // planted sequence: batch 1 = one store-dup + one survivor; batch 2 =
    // a dup of batch 1's SURVIVOR (the loop must see its own appends) + a
    // new×new identical pair (keep-min-id inside one batch)
    val batches: Seq[Seq[(Long, Seq[Float])]] = Seq(
      Seq(100001L -> dupOfStore, 100002L -> fresh1),
      Seq(100003L -> fresh1, 100004L -> fresh2, 100005L -> fresh2))

    def runLoop(viaStream: Boolean): (Seq[(Long, Long)], Set[Long], Long) = {
      spark.sql(s"DROP TABLE IF EXISTS $storeName")
      IvfCatalog.assignedEmbeddings(spark, dir, nlist, step).count()
      val reports = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      if (viaStream) {
        val source = MemoryStream[(Long, Seq[Float])]
        val ckpt = java.nio.file.Files.createTempDirectory("graft_ingest_ckpt").toString
        val q = graft.streaming.StreamingIngest.start(
          source.toDF().toDF("vec_id", "embedding"), dir, ckpt, nlist, step,
          onBatch = r => reports.synchronized { reports += ((r.dropped, r.appended)) })
        batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
        q.stop()
      } else {
        batches.foreach { b =>
          reports += graft.streaming.StreamingIngest.ingestBatch(
            b.toDF("vec_id", "embedding"), dir, nlist, step)
        }
      }
      val store = IvfCatalog.assignedEmbeddings(spark, dir, nlist, step)
      val appendedIds = store.filter(col("vec_id") >= 100000L)
        .select("vec_id").collect().map(_.getLong(0)).toSet
      (reports.toList, appendedIds, store.count())
    }

    val (sRep, sIds, sRows) = runLoop(viaStream = true)
    val (bRep, bIds, bRows) = runLoop(viaStream = false)
    // planted expectations: 100001 dropped vs store; 100002 survives;
    // 100003 dropped vs the APPENDED 100002; 100005 dropped vs 100004
    assert(sIds === Set(100002L, 100004L))
    assert(sRep === Seq((1L, 1L), (2L, 1L)))
    // stream == batch incremental loop on the same planted sequence
    assert(sRep === bRep)
    assert(sIds === bIds)
    assert(sRows === bRows)
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
  }

  test("streaming document ingest chunks+embeds batches, dedups replays, and the flagship probe sees the appends") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    // isolated nlist → isolated store/centroid tables (flagship fixtures are
    // nlist 16, IvfCatalogSpec uses 19)
    val nlist = 23
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)

    // a corpus document the store already chunked (≥1 chunk) — its REPLAY
    // must dedup away entirely
    def chunksOf(docs: org.apache.spark.sql.DataFrame): Seq[String] =
      graft.pipelines.Pipelines.featurePipeline(docs, 0.0)
        .select("chunk_id").collect().map(_.getString(0)).toSeq
    val replayed = Tables.documents(spark, dir)
      .filter(org.apache.spark.sql.functions.length(col("text")) > 300)
      .orderBy(col("doc_id").asc).limit(1)
      .select("doc_id", "text").head
    val (rDoc, rText) = (replayed.getLong(0), replayed.getString(1))
    def mkText(tag: String): String =
      (1 to 30).map(i => s"The $tag subsystem emits telemetry frame $i with " +
        s"checksum verification and replay-protected sequence numbers.").mkString(" ")
    val docA = (900001L, mkText("aurora")); val docC = (900002L, mkText("cascade"))
    val nA = chunksOf(Seq(docA).toDF("doc_id", "text")).size
    val nB = chunksOf(Seq((rDoc, rText)).toDF("doc_id", "text")).size
    val nC = chunksOf(Seq(docC).toDF("doc_id", "text")).size
    assert(nA > 0 && nB > 0 && nC > 0)

    // batch 1 = new doc + replayed corpus doc; batch 2 = replay of batch 1's
    // OWN append (the loop must see itself) + another new doc
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(docA, rDoc -> rText),
      Seq(docA, docC))

    def runLoop(viaStream: Boolean): (Seq[(Long, Long)], Long) = {
      spark.sql(s"DROP TABLE IF EXISTS $storeName")
      spark.sql(s"DROP TABLE IF EXISTS $centName")
      IvfCatalog.assignedChunks(spark, dir, nlist).count()
      val reports = scala.collection.mutable.ListBuffer.empty[(Long, Long)]
      if (viaStream) {
        val source = MemoryStream[(Long, String)]
        val ckpt = java.nio.file.Files.createTempDirectory("graft_docingest_ckpt").toString
        val q = graft.streaming.StreamingIngest.startDocs(
          source.toDF().toDF("doc_id", "text"), dir, ckpt, nlist,
          onBatch = r => reports.synchronized { reports += ((r.dropped, r.appended)) })
        batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
        q.stop()
      } else {
        batches.foreach { b =>
          reports += graft.streaming.StreamingIngest.ingestDocBatch(
            b.toDF("doc_id", "text"), dir, nlist)
        }
      }
      (reports.toList, IvfCatalog.assignedChunks(spark, dir, nlist).count())
    }

    val (sRep, sRows) = runLoop(viaStream = true)
    val n0 = sRows - nA - nC
    // batch 1: replayed doc fully deduped, doc A appended; batch 2: doc A's
    // replay deduped against the loop's own append, doc C appended
    assert(sRep === Seq((nB.toLong, nA.toLong), (nA.toLong, nC.toLong)))
    // no duplicate ids in the store after replays
    val store = IvfCatalog.assignedChunks(spark, dir, nlist)
    assert(store.select("chunk_id").distinct().count() === store.count())
    // the flagship probe path retrieves an appended chunk at its own embedding
    val probe = store.filter(col("document_id") === 900001L)
      .select("chunk_id", "embedding").head
    val hits = graft.operators.Similarity.ivfSearchPruned(store,
        IvfCatalog.chunkCentroidsStored(spark, dir, nlist),
        probe.getSeq[Float](1).toArray, k = 5, nprobe = 2, idCol = "chunk_id")
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    assert(hits.contains(probe.getString(0)), s"probe missed the appended chunk: $hits")
    // stream == batch loop on the same planted sequence
    val (bRep, bRows) = runLoop(viaStream = false)
    assert(sRep === bRep)
    assert(sRows === bRows)
    assert(n0 > 0 && bRows === n0 + nA + nC)
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
  }

  test("doc loop maintains span flags alongside near-dup flags; the gram log folds in place on the cadence") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 37 // isolated store/centroid tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    def tmp(p: String) = java.nio.file.Files.createTempDirectory(p).toString

    // planted span structure across batches: 910011 duplicates a batch-0
    // run at arrival, 910021 flags against the store, 910031 flags against
    // counts that by then live ONLY in the folded batch=-1 part
    val batches: Seq[Seq[(Long, String)]] = Seq(
      Seq(910001L -> "alpha beta gamma delta epsilon zeta shared run one",
          910002L -> "noise n1 n2 n3 n4 n5"),
      Seq(910011L -> "prefix alpha beta gamma delta epsilon zeta suffix",
          910012L -> "unique u1 u2 u3 u4 u5 u6"),
      Seq(910021L -> "tail alpha beta gamma delta epsilon zeta"),
      Seq(910031L -> "noise n1 n2 n3 n4 n5 coda"))

    // arrival-time truth: full-corpus spans over batches 0..n, restricted
    // to batch n's documents — the equivalence the incremental kernel pins
    def expectedAt(n: Int): Set[(Long, Long, Long)] = {
      val ids = batches(n).map(_._1).toSet
      graft.operators.Dedup.duplicateSpans(
          batches.take(n + 1).flatten.toDF("doc_id", "text"))
        .as[(Long, Long, Long)].collect().toSet.filter(s => ids(s._1))
    }
    val want = batches.indices.map(expectedAt).reduce(_ ++ _)
    assert(want.exists(_._1 == 910011L) && want.exists(_._1 == 910021L) &&
      want.exists(_._1 == 910031L), s"planted dups must flag: $want")

    def runLoop(viaStream: Boolean): (Set[(Long, Long, Long)], Long, String) = {
      spark.sql(s"DROP TABLE IF EXISTS $storeName")
      spark.sql(s"DROP TABLE IF EXISTS $centName")
      IvfCatalog.assignedChunks(spark, dir, nlist).count()
      val (logDir, flagsDir) = (tmp("graft_spanlog_triad"), tmp("graft_spanflags_triad"))
      if (viaStream) {
        val source = MemoryStream[(Long, String)]
        val q = graft.streaming.StreamingIngest.startDocs(
          source.toDF().toDF("doc_id", "text"), dir,
          tmp("graft_spanloop_ckpt"), nlist, compactEvery = 2,
          spanLogDir = logDir, spanFlagsDir = flagsDir)
        try batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
        finally q.stop()
      } else batches.zipWithIndex.foreach { case (b, i) =>
        // the same cadence the stream runs: fold due at the start of batch 2
        if (i > 0 && i % 2 == 0)
          graft.streaming.SpanDedupIngest.foldLogInLoop(spark, logDir,
            belowBatch = i.toLong)
        graft.streaming.StreamingIngest.ingestDocBatchWithSpans(
          b.toDF("doc_id", "text"), dir, nlist, logDir, flagsDir, batchId = i.toLong)
      }
      val flags = graft.streaming.SpanDedupIngest.readFlags(spark, flagsDir)
        .as[(Long, Long, Long)].collect().toSet
      (flags, IvfCatalog.assignedChunks(spark, dir, nlist).count(), logDir)
    }

    val (sFlags, sRows, sLog) = runLoop(viaStream = true)
    assert(sFlags === want)
    // the log folded mid-stream: batches 0+1 live only as g0/batch=-1,
    // batches 2+3 landed beside it in the live generation
    assert(graft.streaming.SpanDedupIngest.partsDir(spark, sLog) === s"$sLog/g0")
    assert(spark.read.option("basePath", s"$sLog/g0").parquet(s"$sLog/g0")
      .select("batch").distinct().as[Long].collect().toSet === Set(-1L, 2L, 3L))
    // ...with every batch's counts exactly once
    assert(graft.streaming.SpanDedupIngest.readLog(spark, sLog)
      .groupBy().sum("occ").as[Long].head() ===
      graft.operators.Dedup.spanGramCounts(
          batches.flatten.toDF("doc_id", "text"))
        .groupBy().sum("occ").as[Long].head())
    // one arrival stream maintained BOTH granularities: chunks appended too
    assert(sRows > 0)
    // stream ≡ the batch composition of the same steps
    val (bFlags, bRows, _) = runLoop(viaStream = false)
    assert(bFlags === sFlags)
    assert(bRows === sRows)
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
  }

  test("doc ingest flags near-duplicate chunks with near_dup_of — admission stays upstream") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val nlist = 27 // isolated store/centroid tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
    IvfCatalog.assignedChunks(spark, dir, nlist).count()

    // single-chunk documents (short texts → stable chunk boundaries):
    // docY is a near-copy of docX — one token changed, cosine well above
    // the 0.9 bar but a different md5 chunk id, so identity dedup admits it
    def mk(word: String): String =
      (1 to 4).map(i => s"The $word reactor loop streams micro batch $i through the " +
        "pruned cells and appends survivors into the partitioned store.").mkString(" ")
    val docX = (910001L, mk("aurora"))
    val docY = (910002L, mk("aurins"))

    // the flag path must not grow the tracked-cache registry per batch —
    // a long-running ingest stream would otherwise leak one cached plan
    // per flagged batch (the r15 persistTracked leak, closed by the
    // one-evaluation nearDupFlags derivation)
    val cachesBefore = graft.Caches.liveCount
    val (d1, a1) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq(docX).toDF("doc_id", "text"), dir, nlist)
    assert(d1 === 0L && a1 >= 1L)
    assert(graft.Caches.liveCount === cachesBefore,
      "ingestDocBatch must leave the tracked-cache registry unchanged")
    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val xChunk = store().filter(col("document_id") === 910001L)
      .select("chunk_id", "near_dup_of").collect()
    assert(xChunk.length === 1, s"docX should be a single chunk, got ${xChunk.length}")
    assert(xChunk.head.isNullAt(1), "nothing in the corpus near-dups docX — flag must be null")

    val (d2, a2) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq(docY).toDF("doc_id", "text"), dir, nlist)
    assert(d2 === 0L && a2 === 1L, "a near-copy is ADMITTED (identity dedup only)")
    val yChunk = store().filter(col("document_id") === 910002L)
      .select("chunk_id", "near_dup_of").head
    assert(yChunk.getString(1) === xChunk.head.getString(0),
      s"docY's chunk must arrive flagged as a near-dup of docX's chunk, got ${yChunk.getString(1)}")
    // the flag never drops rows, and base-corpus rows stay unflagged
    assert(store().filter(col("near_dup_of").isNotNull).count() === 1)

    // flagNearDups = false skips the kernel entirely (null flag)
    val docZ = (910003L, mk("zephyr"))
    val (_, a3) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq(docZ).toDF("doc_id", "text"), dir, nlist, flagNearDups = false)
    assert(a3 === 1L)
    assert(store().filter(col("document_id") === 910003L)
      .select("near_dup_of").head.isNullAt(0))

    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
  }

  test("doc ingest keeps the IVFADC code table in step with appends (pqM)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val (nlist, m, ksub) = (29, 24, 16) // isolated store/cent/codebook/code tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val cbName = TableStore.tableName(s"ivfpqcb_m${m}k$ksub", dir)
    def codesName = IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, m, ksub)
    def dropAll(): Unit = {
      // codes table name needs the codebook — resolve it BEFORE dropping
      if (spark.catalog.tableExists(cbName))
        spark.sql(s"DROP TABLE IF EXISTS $codesName")
      Seq(storeName, centName, cbName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
    dropAll()
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub).count()

    val store = () => IvfCatalog.assignedChunks(spark, dir, nlist)
    val codes = () => IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub)
    val n0 = store().count()
    assert(codes().count() === n0, "code table covers the base corpus at build")

    def mk(word: String): String =
      (1 to 4).map(i => s"The $word lattice indexes shard $i by product code and " +
        "reranks the pruned candidates against the raw vectors.").mkString(" ")
    val (d1, a1) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((920001L, mk("quasar"))).toDF("doc_id", "text"), dir, nlist, pqM = m, pqKsub = ksub)
    assert(d1 === 0L && a1 >= 1L)
    assert(codes().count() === n0 + a1, "every appended chunk got a code row")
    // membership + identical cell assignment on both sides (pruning parity)
    val storeSide = store().filter(col("document_id") === 920001L)
      .select(col("chunk_id"), col("centroid_id"), col("embedding"))
    val codeSide = codes().select(col("chunk_id"), col("centroid_id").as("code_cell"))
    val joined = storeSide.join(codeSide, "chunk_id").collect()
    assert(joined.length.toLong === a1)
    joined.foreach(r => assert(r.getLong(1) === r.getLong(3),
      s"code row landed in cell ${r.getLong(3)}, raw store says ${r.getLong(1)}"))

    // the compressed probe retrieves an appended chunk at its own embedding —
    // the staleness this maintenance exists to prevent
    val probe = storeSide.head
    val cb = IvfPqCatalog.chunkCodebookStored(spark, dir, m, ksub)
    val hits = graft.operators.Similarity.ivfPqSearchPruned(codes(), store(),
        IvfCatalog.chunkCentroidsStored(spark, dir, nlist), cb,
        probe.getSeq[Float](2).toArray, k = 5, nprobe = 2, idCol = "chunk_id")
      .select("chunk_id").collect().map(_.getString(0)).toSeq
    assert(hits.contains(probe.getString(0)),
      s"IVFADC probe missed the appended chunk: $hits")

    // a replayed document dedups away — no duplicate code rows either
    val (d2, a2) = graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((920001L, mk("quasar"))).toDF("doc_id", "text"), dir, nlist, pqM = m, pqKsub = ksub)
    assert(d2 === a1 && a2 === 0L)
    assert(codes().count() === n0 + a1)
    assert(codes().select("chunk_id").distinct().count() === n0 + a1)
    // crash-window convergence: the loop appends codes BEFORE raw rows, so a
    // replay after a crash between the two re-offers already-coded chunks —
    // the pruned identity anti-join must make that a no-op
    IvfPqCatalog.appendChunkCodes(spark, dir,
      storeSide.select(col("chunk_id"), col("embedding")), nlist, m, ksub)
    assert(codes().count() === n0 + a1, "re-appending coded chunks must be a no-op")
    dropAll()
  }

  test("vector ingest keeps the IVFADC code table in step with appends (pqCb)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val (nlist, step) = (9, 31L) // isolated store/cent/code tables
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.operators.Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = step)
    val storeName = TableStore.tableName(s"ivf${nlist}_$step", dir)
    val centName = TableStore.tableName(s"ivfcent_s${nlist}_$step", dir)
    val codesName = IvfPqCatalog.vecCodesName(dir, nlist, step, cb)
    def dropAll(): Unit =
      Seq(storeName, centName, codesName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    dropAll()
    IvfCatalog.assignedEmbeddings(spark, dir, nlist, step).count()
    IvfPqCatalog.encodedEmbeddings(spark, dir, cb, nlist, step).count()

    val store = () => IvfCatalog.assignedEmbeddings(spark, dir, nlist, step)
    val codes = () => IvfPqCatalog.encodedEmbeddings(spark, dir, cb, nlist, step)
    val n0 = store().count()
    assert(codes().count() === n0)

    // planted batch: a verbatim store vector (near-dup → dropped) + a
    // negated one (cosine −1 → survives and must get a code row)
    val v = emb.filter($"vec_id" === 3L).select("embedding").head.getSeq[Float](0)
    val (d1, a1) = graft.streaming.StreamingIngest.ingestBatch(
      Seq((800001L, v), (800002L, v.map(x => -x)))
        .toDF("vec_id", "embedding"), dir, nlist, step, pqCb = Some(cb))
    assert(d1 === 1L && a1 === 1L)
    assert(codes().count() === n0 + 1)
    // identical cell on both sides, and the compressed probe sees the append
    val sRow = store().filter(col("vec_id") === 800002L)
      .select("centroid_id", "embedding").head
    val cRow = codes().filter(col("vec_id") === 800002L).select("centroid_id").head
    assert(cRow.getLong(0) === sRow.getLong(0))
    val hits = graft.operators.Similarity.ivfPqSearchPruned(codes(), store(),
        IvfCatalog.centroidsFor(spark, dir, nlist, step), cb,
        sRow.getSeq[Float](1).toArray, k = 5, nprobe = 2)
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(hits.contains(800002L), s"IVFADC probe missed the appended vector: $hits")
    // idempotent: re-offering the coded vector is a no-op (crash-window replay)
    IvfPqCatalog.appendVecCodes(spark, dir,
      Seq((800002L, v.map(x => -x))).toDF("vec_id", "embedding"), cb, nlist, step)
    assert(codes().count() === n0 + 1)
    dropAll()
  }

  test("edits channel: stream ≡ batch sequence, last op per doc wins, replayed batch round-trips") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val tdir = "/tmp/graft_editstream_fixture"
    val nlist = 31
    def mkDoc(id: Long, rev: Int): String =
      (1 to 6).map(i => s"Document $id revision $rev sentence $i walks the edit " +
        s"channel through topic ${(id * 11 + rev * 13 + i) % 17} with a stable " +
        "vocabulary and enough words for real chunks.").mkString(" ")
    val base: Map[Long, String] = (1L to 8L).map(id => id -> mkDoc(id, 0)).toMap
    base.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir),
      TableStore.tableName(s"ivfchunks$nlist", tdir),
      TableStore.tableName(s"ivfchunkcent$nlist", tdir),
      DocLifecycle.docCellsName(tdir, nlist))

    // the edit script: last-op-per-doc semantics exercised in-batch
    //  b1: doc 2 edited twice in ONE batch — seq 2 must win
    //  b2: doc 3 deleted; doc 20 added
    //  b3: doc 20 deleted-then-readded in one batch (winner: the re-add);
    //      doc 4 edited-then-deleted in one batch (winner: the delete)
    val batches: Seq[Seq[(Long, String, String, Int)]] = Seq(
      Seq((2L, mkDoc(2, 1), "upsert", 1), (2L, mkDoc(2, 2), "upsert", 2)),
      Seq((3L, "", "delete", 1), (20L, mkDoc(20, 1), "upsert", 1)),
      Seq((20L, "", "delete", 1), (20L, mkDoc(20, 2), "upsert", 2),
          (4L, mkDoc(4, 9), "upsert", 1), (4L, "", "delete", 2)))
    val ref = base ++ Map(2L -> mkDoc(2, 2), 20L -> mkDoc(20, 2)) - 3L - 4L

    def expected(): Set[(String, Long, Long)] =
      graft.operators.Similarity.ivfAssign(
          graft.pipelines.Pipelines.featurePipeline(
              ref.toSeq.toDF("doc_id", "text"), 0.0)
            .select(col("chunk_id"), col("document_id"), col("embedding")),
          IvfCatalog.chunkCentroidsStored(spark, tdir, nlist), idCol = "chunk_id")
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    def currentStore(): Set[(String, Long, Long)] =
      IvfCatalog.assignedChunks(spark, tdir, nlist)
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet

    def runEdits(viaStream: Boolean): Set[(String, Long, Long)] = {
      toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      spark.catalog.clearCache()
      IvfCatalog.assignedChunks(spark, tdir, nlist).count()
      DocLifecycle.docCells(spark, tdir, nlist).count()
      if (viaStream) {
        val source = MemoryStream[(Long, String, String, Int)]
        val ckpt = java.nio.file.Files.createTempDirectory("graft_edits_ckpt").toString
        val q = graft.streaming.StreamingIngest.startDocEdits(
          source.toDF().toDF("doc_id", "text", "op", "seq"), tdir, ckpt, nlist,
          compactEvery = 2)
        batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
        q.stop()
      } else batches.foreach { b =>
        graft.streaming.StreamingIngest.applyEditBatch(
          b.toDF("doc_id", "text", "op", "seq"), tdir, nlist)
      }
      currentStore()
    }

    val streamed = runEdits(viaStream = true)
    assert(streamed === expected(), "streamed edits diverged from the rebuild oracle")
    // checkpoint-replay: re-delivering the final batch must round-trip
    graft.streaming.StreamingIngest.applyEditBatch(
      batches.last.toDF("doc_id", "text", "op", "seq"), tdir, nlist)
    assert(currentStore() === streamed, "a replayed edit batch must be a no-op")
    // stream ≡ the same ops applied as batch calls
    val batched = runEdits(viaStream = false)
    assert(batched === streamed)
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("edit batches: equal-seq ties resolve deterministically; a NULL op fails loudly") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val tdir = "/tmp/graft_edittie_fixture"
    val nlist = 17
    def mkDoc(id: Long, rev: Int): String =
      (1 to 6).map(i => s"Document $id revision $rev sentence $i keeps the tie " +
        s"fixture on topic ${(id * 3 + rev + i) % 7} with enough words for real " +
        "chunks in every revision.").mkString(" ")
    Seq(1L -> mkDoc(1, 0), 2L -> mkDoc(2, 0)).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir),
      TableStore.tableName(s"ivfchunks$nlist", tdir),
      TableStore.tableName(s"ivfchunkcent$nlist", tdir),
      DocLifecycle.docCellsName(tdir, nlist))
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    IvfCatalog.assignedChunks(spark, tdir, nlist).count()

    // a source stamping coarse sequence numbers: upsert and delete of the
    // same doc carry the SAME seq — the winner must be deterministic
    // (total order seq desc, op asc, text asc → "delete" < "upsert"), and a
    // checkpoint replay of the identical batch must land the same way
    val tie = Seq((1L, mkDoc(1, 1), "upsert", 1), (1L, "", "delete", 1))
    def docRows(id: Long): Long = IvfCatalog.assignedChunks(spark, tdir, nlist)
      .filter(col("document_id") === id).count()
    graft.streaming.StreamingIngest.applyEditBatch(
      tie.toDF("doc_id", "text", "op", "seq"), tdir, nlist)
    assert(docRows(1L) === 0L, "tie must resolve to the delete, deterministically")
    graft.streaming.StreamingIngest.applyEditBatch( // replay: same winner
      tie.toDF("doc_id", "text", "op", "seq"), tdir, nlist)
    assert(docRows(1L) === 0L, "a replayed tie batch must pick the same winner")

    // a NULL op routes to neither path — it must be rejected, not dropped
    val ex = intercept[IllegalArgumentException] {
      graft.streaming.StreamingIngest.applyEditBatch(
        Seq((2L, mkDoc(2, 1), null: String, 1))
          .toDF("doc_id", "text", "op", "seq"), tdir, nlist)
    }
    assert(ex.getMessage.contains("NULL"))
    assert(docRows(2L) > 0L, "the rejected batch must not have touched doc 2")
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("arrivals, edits, deletes and compaction interleave — the store tracks the net document set") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    // the full production triad run SERIALLY interleaved (the documented
    // single-maintenance-writer deployment shape): the append-only ingest
    // loop takes arrivals, the edits channel revises/removes both old and
    // just-arrived documents, compaction passes land between them — and at
    // every checkpoint the store equals the from-scratch feature pipeline
    // of the net document set. Pins that the three paths compose: an edit
    // can't resurrect a compacted-away file, an arrival can't dodge a later
    // delete, the doc→cells index never misses a rewrite.
    val tdir = "/tmp/graft_triad_fixture"
    val nlist = 29
    def mkDoc(id: Long, rev: Int): String =
      (1 to 6).map(i => s"Document $id revision $rev sentence $i exercises the " +
        s"interleaved lifecycle on topic ${(id * 7 + rev * 5 + i) % 13} with a " +
        "stable vocabulary and enough words for real chunks.").mkString(" ")
    val base: Map[Long, String] = (1L to 6L).map(id => id -> mkDoc(id, 0)).toMap
    base.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir),
      TableStore.tableName(s"ivfchunks$nlist", tdir),
      TableStore.tableName(s"ivfchunkcent$nlist", tdir),
      DocLifecycle.docCellsName(tdir, nlist))
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    IvfCatalog.assignedChunks(spark, tdir, nlist).count()
    DocLifecycle.docCells(spark, tdir, nlist).count()
    val storeName = TableStore.tableName(s"ivfchunks$nlist", tdir)

    var ref: Map[Long, String] = base
    def check(step: String): Unit = {
      val expected = graft.operators.Similarity.ivfAssign(
          graft.pipelines.Pipelines.featurePipeline(
              ref.toSeq.toDF("doc_id", "text"), 0.0)
            .select(col("chunk_id"), col("document_id"), col("embedding")),
          IvfCatalog.chunkCentroidsStored(spark, tdir, nlist), idCol = "chunk_id")
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = IvfCatalog.assignedChunks(spark, tdir, nlist)
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"store diverged from the rebuild oracle after: $step")
    }
    def arrive(docs: (Long, String)*): Unit = {
      graft.streaming.StreamingIngest.ingestDocBatch(
        docs.toSeq.toDF("doc_id", "text"), tdir, nlist)
      ref = ref ++ docs
    }
    def edit(batch: (Long, String, String, Int)*): Unit = {
      graft.streaming.StreamingIngest.applyEditBatch(
        batch.toSeq.toDF("doc_id", "text", "op", "seq"), tdir, nlist)
      batch.groupBy(_._1).foreach { case (id, ops) =>
        val last = ops.maxBy(_._4)
        ref = if (last._3 == "delete") ref - id else ref + (id -> last._2)
      }
    }

    arrive(10L -> mkDoc(10, 0), 11L -> mkDoc(11, 0))
    check("arrivals 10,11")
    edit((2L, mkDoc(2, 1), "upsert", 1), (10L, "", "delete", 1))
    check("edit pre-built doc 2 + delete just-arrived doc 10")
    Compaction.compactTable(spark, storeName, idCol = "chunk_id")
    check("compaction between channels")
    arrive(12L -> mkDoc(12, 0), 11L -> mkDoc(11, 0)) // 11 replays, dedups away
    check("arrival 12 + replay of 11")
    edit((11L, mkDoc(11, 1), "upsert", 1), (3L, "", "delete", 1))
    check("edit just-arrived doc 11 + delete pre-built doc 3")
    Compaction.compactTable(spark, storeName, idCol = "chunk_id")
    DocLifecycle.compactDocCells(spark, tdir, nlist)
    check("final compaction incl. doc→cells rebuild")
    // post-compaction edit: the rebuilt index must still route the rewrite
    edit((12L, "", "delete", 1))
    check("delete after doc→cells compaction")
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("ingest and edit loops running across a blue/green reindex converge to the rebuild oracle") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    // the triad's deployment story one decade later: while a RUNNING ingest
    // loop and edits channel keep writing the old generation, the index is
    // rebuilt blue/green at a larger nlist (Reindex.rebuildChunkIndex);
    // waves landing during every rebuild phase (via the phase seams) must
    // reconcile in, the cutover must converge, and the retargeted loops
    // (same channels, new nlist) must keep the new generation tracking the
    // net document set.
    val tdir = "/tmp/graft_reindex_triad"
    val (nlA, nlB) = (23, 41)
    def mkDoc(id: Long, rev: Int): String =
      (1 to 6).map(i => s"Document $id revision $rev sentence $i exercises the " +
        s"reindexed lifecycle on topic ${(id * 7 + rev * 5 + i) % 13} with a " +
        "stable vocabulary and enough words for real chunks.").mkString(" ")
    val base: Map[Long, String] = (1L to 6L).map(id => id -> mkDoc(id, 0)).toMap
    base.toSeq.toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$tdir/documents.parquet")
    val toDrop = Seq(TableStore.tableName("chunks", tdir)) ++
      Seq(nlA, nlB).flatMap(n => Seq(
        TableStore.tableName(s"ivfchunks$n", tdir),
        TableStore.tableName(s"ivfchunkcent$n", tdir),
        DocLifecycle.docCellsName(tdir, n)))
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    spark.catalog.clearCache()
    IvfCatalog.assignedChunks(spark, tdir, nlA).count()
    DocLifecycle.docCells(spark, tdir, nlA).count()

    var ref: Map[Long, String] = base
    val arrivals = MemoryStream[(Long, String)]
    val edits = MemoryStream[(Long, String, String, Int)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_reindex_ckpt")
    var qArr = graft.streaming.StreamingIngest.startDocs(
      arrivals.toDF().toDF("doc_id", "text"), tdir, s"$ckpt/arrA", nlA)
    var qEd = graft.streaming.StreamingIngest.startDocEdits(
      edits.toDF().toDF("doc_id", "text", "op", "seq"), tdir, s"$ckpt/edA", nlA)
    def arrive(docs: (Long, String)*): Unit = {
      arrivals.addData(docs: _*); qArr.processAllAvailable()
      ref = ref ++ docs
    }
    def edit(batch: (Long, String, String, Int)*): Unit = {
      edits.addData(batch: _*); qEd.processAllAvailable()
      batch.groupBy(_._1).foreach { case (id, ops) =>
        val last = ops.maxBy(_._4)
        ref = if (last._3 == "delete") ref - id else ref + (id -> last._2)
      }
    }
    def check(nlist: Int, step: String): Unit = {
      val expected = graft.operators.Similarity.ivfAssign(
          graft.pipelines.Pipelines.featurePipeline(
              ref.toSeq.toDF("doc_id", "text"), 0.0)
            .select(col("chunk_id"), col("document_id"), col("embedding")),
          IvfCatalog.chunkCentroidsStored(spark, tdir, nlist), idCol = "chunk_id")
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val got = IvfCatalog.assignedChunks(spark, tdir, nlist)
        .select("chunk_id", "document_id", "centroid_id")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got === expected, s"store diverged from the rebuild oracle after: $step")
    }

    arrive(10L -> mkDoc(10, 0), 11L -> mkDoc(11, 0))
    edit((2L, mkDoc(2, 1), "upsert", 1))
    check(nlA, "pre-rebuild waves")
    val rep = Reindex.rebuildChunkIndex(spark, tdir, nlA, nlB,
      beforeRounds = () => { // lands while the staged build is already done
        arrive(12L -> mkDoc(12, 0))
        edit((10L, "", "delete", 1), (3L, mkDoc(3, 1), "upsert", 1))
      },
      beforeCutover = () => { // lands after the rounds went quiet
        arrive(13L -> mkDoc(13, 0))
        edit((11L, mkDoc(11, 1), "upsert", 1))
      })
    assert(rep.deltaRows > 0L && rep.cutoverRounds >= 1)
    check(nlA, "old generation after the rebuild (untouched by it)")
    check(nlB, "new generation at cutover")

    // retarget the channels: same streams, SAME checkpoints (the committed
    // source offsets must carry over — a fresh checkpoint would replay
    // every retained wave into the new generation, resurrecting deleted
    // docs), new nlist — the (dir, nlist) pair IS the blue/green switch
    qArr.stop(); qEd.stop()
    qArr = graft.streaming.StreamingIngest.startDocs(
      arrivals.toDF().toDF("doc_id", "text"), tdir, s"$ckpt/arrA", nlB)
    qEd = graft.streaming.StreamingIngest.startDocEdits(
      edits.toDF().toDF("doc_id", "text", "op", "seq"), tdir, s"$ckpt/edA", nlB)
    arrive(14L -> mkDoc(14, 0))
    edit((13L, "", "delete", 2), (12L, mkDoc(12, 1), "upsert", 2))
    check(nlB, "retargeted loops on the new generation")
    qArr.stop(); qEd.stop()
    Reindex.dropChunkGeneration(spark, tdir, nlA) // retire the old generation
    assert(!spark.catalog.tableExists(IvfCatalog.chunkStoreName(tdir, nlA)))
    check(nlB, "new generation after retiring the old")
    // retire the new generation too: its `__gen` tables and pointer would
    // otherwise outlive this test in the shared catalog
    Reindex.dropChunkGeneration(spark, tdir, nlB)
    toDrop.foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("doc loop cadence compacts the doc→cells index to live pairs, one file per bucket") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 29 // isolated store/cent/index tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    DocLifecycle.docCells(spark, dir, nlist).count() // index live BEFORE the loop
    val files0 = Compaction.tableFiles(spark, idxName)

    def mkText(tag: String): String =
      (1 to 8).map(i => s"The $tag pipeline emits segment $i with sequence " +
        "numbers and enough prose that the chunker produces genuine chunks.").mkString(" ")
    // an upsert seeds FALSE POSITIVES in the index (the edited doc's old
    // cells stay listed); the in-loop cadence must reclaim them too
    graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((950001L, mkText("meridian"))).toDF("doc_id", "text"), dir, nlist)
    DocLifecycle.upsertDocChunks(spark, dir,
      Seq((950001L, mkText("meridian edited"))).toDF("doc_id", "text"), nlist)

    val source = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_doccells_ckpt").toString
    val q = graft.streaming.StreamingIngest.startDocs(
      source.toDF().toDF("doc_id", "text"), dir, ckpt, nlist, compactEvery = 2)
    Seq(Seq(950002L -> mkText("borealis")), Seq(950003L -> mkText("cascade")),
        Seq(950004L -> mkText("delta")), Seq(950005L -> mkText("ember")))
      .foreach { b => source.addData(b: _*); q.processAllAvailable() }
    q.stop()

    spark.catalog.refreshTable(idxName)
    // four appended batches + an upsert would have left files0+≥5 files and
    // stale pairs; the cadence rebuilt to one file per bucket, live only
    assert(Compaction.tableFiles(spark, idxName) <= files0,
      "cadence did not reclaim the index's per-batch files")
    val live = IvfCatalog.assignedChunks(spark, dir, nlist)
      .select("document_id", "centroid_id").distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val indexed = DocLifecycle.docCells(spark, dir, nlist)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(indexed === live,
      "after the cadence the index must hold EXACTLY the live pairs")
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("streaming vec loop with pqCb compacts the code table on the same cadence") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (nlist, step) = (13, 31L) // isolated store/cent/code tables
    val emb = Tables.embeddings(spark, dir)
    val cb = graft.operators.Similarity.pqTrainSeeded(emb, m = 8, ksub = 16, step = step)
    val storeName = TableStore.tableName(s"ivf${nlist}_$step", dir)
    val centName = TableStore.tableName(s"ivfcent_s${nlist}_$step", dir)
    val codesName = IvfPqCatalog.vecCodesName(dir, nlist, step, cb)
    Seq(storeName, centName, codesName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedEmbeddings(spark, dir, nlist, step).count()
    IvfPqCatalog.encodedEmbeddings(spark, dir, cb, nlist, step).count()
    val n0 = spark.table(storeName).count()

    // three batches of genuinely-new vectors (negations of distinct corpus
    // rows — far from everything stored), streamed through the production
    // loop with the code table maintained and compacted every 2 batches
    def neg(id: Long): Seq[Float] =
      emb.filter($"vec_id" === id).select("embedding").head.getSeq[Float](0).map(x => -x)
    val batches = Seq(Seq(810001L -> neg(3L)), Seq(810002L -> neg(7L)), Seq(810003L -> neg(11L)))
    val source = MemoryStream[(Long, Seq[Float])]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_vecpq_ckpt").toString
    val q = graft.streaming.StreamingIngest.start(
      source.toDF().toDF("vec_id", "embedding"), dir, ckpt, nlist, step,
      compactEvery = 2, pqCb = Some(cb))
    batches.foreach { b => source.addData(b: _*); q.processAllAvailable() }
    q.stop()

    spark.catalog.refreshTable(storeName); spark.catalog.refreshTable(codesName)
    // both tables in lockstep through append + in-loop compaction
    assert(spark.table(storeName).count() === n0 + 3)
    assert(spark.table(codesName).count() === n0 + 3)
    assert(spark.table(codesName).join(spark.table(storeName), Seq("vec_id"), "left_anti")
      .count() === 0L)
    // the cadence kept the CODE table's file count bounded too: after the
    // compaction at batch 2, only batch 3's appends fragment it
    val frag = Compaction.partitionStats(spark, codesName)
    assert(frag.forall(_.files <= 2),
      s"code table not compacted in-loop: ${frag.filter(_.files > 2)}")
    Seq(storeName, centName, codesName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("loop cadence surfaces reindex advice once the generation is law-stale") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 7 // decade-stale: law nlist ≈ √(corpus chunks) ≥ 2×7
    val storeName = IvfCatalog.chunkStoreName(dir, nlist)
    val centName = IvfCatalog.chunkCentroidsName(dir, nlist)
    val idxName = DocLifecycle.docCellsName(dir, nlist)
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    DocLifecycle.docCells(spark, dir, nlist).count()

    val advice = scala.collection.mutable.ListBuffer.empty[Reindex.Advice]
    val source = MemoryStream[(Long, String)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_advice_ckpt").toString
    val q = graft.streaming.StreamingIngest.startDocs(
      source.toDF().toDF("doc_id", "text"), dir, ckpt, nlist, compactEvery = 1,
      onAdvice = a => advice.synchronized { advice += a })
    source.addData(960001L -> (1 to 8).map(i => s"Advice wiring fixture sentence $i " +
      "with enough prose that the chunker produces genuine chunks.").mkString(" "))
    q.processAllAvailable(); q.stop()

    assert(advice.nonEmpty, "a law-stale generation must surface advice on the cadence")
    val a = advice.head
    spark.catalog.refreshTable(storeName) // the cadence rewrote the store under us
    val n = spark.table(storeName).count()
    assert(a.store === storeName && a.corpusRows === n)
    assert(a.recommendedNlist === math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt))
    assert(a.driftFactor >= 2.0, s"advice must only fire past the trigger, got $a")
    Seq(storeName, centName, idxName).foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("doc loop cadence surfaces mixture-drift advice; a balanced stream stays quiet") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 41 // isolated store/centroid tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    def mkText(tag: String): String = (1 to 8).map(i =>
      s"Mixture fixture $tag sentence $i with enough prose to chunk.").mkString(" ")

    def run(docs: Seq[(Long, String, String)]): Seq[graft.operators.Sampling.MixtureAdvice] = {
      spark.sql(s"DROP TABLE IF EXISTS $storeName")
      spark.sql(s"DROP TABLE IF EXISTS $centName")
      IvfCatalog.assignedChunks(spark, dir, nlist).count()
      val advice = scala.collection.mutable.ListBuffer.empty[graft.operators.Sampling.MixtureAdvice]
      val source = MemoryStream[(Long, String, String)]
      val ckpt = java.nio.file.Files.createTempDirectory("graft_mixadvice_ckpt").toString
      val q = graft.streaming.StreamingIngest.startDocs(
        source.toDF().toDF("doc_id", "text", "source"), dir, ckpt, nlist,
        compactEvery = 1,
        mixtureWeights = Map("web" -> 0.5, "code" -> 0.5),
        onMixtureAdvice = a => advice.synchronized { advice += a })
      try { source.addData(docs: _*); q.processAllAvailable() } finally q.stop()
      advice.toList
    }

    // skewed arrivals: 3 web / 1 code (+1 unweighted) → drift 0.25 > 0.05
    val skewed = run(Seq(
      (970001L, mkText("w1"), "web"), (970002L, mkText("w2"), "web"),
      (970003L, mkText("w3"), "web"), (970004L, mkText("c1"), "code"),
      (970005L, mkText("x1"), "books")))
    assert(skewed.nonEmpty, "a skewed arrival mixture must surface advice on the cadence")
    val a = skewed.head
    assert(a.counts === Map("web" -> 3L, "code" -> 1L))
    assert(a.observed("web") === 0.75 && a.observed("code") === 0.25)
    assert(a.maxDrift === 0.25 && a.weightedArrivals === 4L && a.otherArrivals === 1L)

    // balanced arrivals: 1/1 → drift 0, the cadence stays quiet
    val balanced = run(Seq(
      (970011L, mkText("w4"), "web"), (970012L, mkText("c2"), "code")))
    assert(balanced.isEmpty, s"a balanced mixture must not advise: $balanced")
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
  }

  test("durable mixture log: the drift advisory survives a loop restart " +
       "and a replayed batch converges") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 43 // isolated store/centroid tables
    val storeName = TableStore.tableName(s"ivfchunks$nlist", dir)
    val centName = TableStore.tableName(s"ivfchunkcent$nlist", dir)
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    def mkText(tag: String): String = (1 to 8).map(i =>
      s"Durable mixture fixture $tag sentence $i with enough prose to chunk.").mkString(" ")
    val weights = Map("web" -> 0.5, "code" -> 0.5)
    val mixLog = java.nio.file.Files.createTempDirectory("graft_mixlog").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mixlog_ckpt").toString
    val source = MemoryStream[(Long, String, String)]
    def runOnce(data: Seq[(Long, String, String)]) = {
      val advice = scala.collection.mutable.ListBuffer.empty[graft.operators.Sampling.MixtureAdvice]
      val q = graft.streaming.StreamingIngest.startDocs(
        source.toDF().toDF("doc_id", "text", "source"), dir, ckpt, nlist,
        compactEvery = 1,
        mixtureWeights = weights, mixtureLogDir = mixLog,
        onMixtureAdvice = a => advice.synchronized { advice += a })
      try { source.addData(data: _*); q.processAllAvailable() } finally q.stop()
      advice.toList
    }
    // run 1: skewed arrivals, advice from the DURABLE log
    val run1 = runOnce(Seq(
      (980001L, mkText("w1"), "web"), (980002L, mkText("w2"), "web"),
      (980003L, mkText("w3"), "web"), (980004L, mkText("c1"), "code")))
    assert(run1.nonEmpty && run1.head.counts === Map("web" -> 3L, "code" -> 1L))
    // RESTART from the same checkpoint (same source instance, batch ids
    // continue): the advisory must see the CUMULATIVE history — the
    // in-memory counters this log replaces would have reset to code=1
    val run2 = runOnce(Seq((980005L, mkText("c2"), "code")))
    assert(run2.nonEmpty,
      "web 3/5 vs target 0.5 is drift 0.1 > 0.05 — the restarted loop must advise")
    assert(run2.head.counts === Map("web" -> 3L, "code" -> 2L),
      s"restart lost the durable arrival history: ${run2.head}")
    assert(math.abs(run2.head.maxDrift - 0.1) < 1e-12 &&
      run2.head.weightedArrivals === 5L)
    // a replayed batch converges: re-landing batch 0's counts changes nothing
    val batch0 = Seq(
      (980001L, "web"), (980002L, "web"), (980003L, "web"), (980004L, "code"))
      .toDF("doc_id", "source")
    graft.streaming.MixtureLog.append(batch0, "source", mixLog, batchId = 0L)
    assert(graft.streaming.MixtureLog.counts(spark, mixLog, weights) ===
      (Map("web" -> 3L, "code" -> 2L), 0L))
    // the log folds generationally like its siblings; counts unchanged
    assert(graft.streaming.MixtureLog.foldInLoop(spark, mixLog))
    assert(graft.streaming.MixtureLog.counts(spark, mixLog, weights) ===
      (Map("web" -> 3L, "code" -> 2L), 0L))
    spark.sql(s"DROP TABLE IF EXISTS $storeName")
    spark.sql(s"DROP TABLE IF EXISTS $centName")
  }

  test("query-serving loop: micro-batches answered by one batched probe each, ≡ serial flagship") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    IvfCatalog.assignedChunks(spark, dir, 16).count() // serving index must exist
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.Map[Long, Array[org.apache.spark.sql.Row]]()
    val ck = s"/tmp/graft_qserve_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = 16,
      onAnswers = (bid, df) => got.synchronized { got(bid) = df.collect() })
    try {
      // batch 0: two texts, one duplicated — the dup must share the probe
      // yet answer under its own query id
      source.addData((1L, "spark join vector query"), (2L, "document quality score"),
        (3L, "spark join vector query"))
      q.processAllAvailable()
      // batch 1: the loop keeps serving
      source.addData((4L, "token budget packing"))
      q.processAllAvailable()
    } finally q.stop()

    val answers = got.values.flatten.toSeq
    val texts = Map(1L -> "spark join vector query", 2L -> "document quality score",
      3L -> "spark join vector query", 4L -> "token budget packing")
    assert(answers.map(_.getLong(0)).toSet === texts.keySet)
    texts.foreach { case (qid, t) =>
      val serial = graft.pipelines.Pipelines.flagshipIvf(spark, dir, queryText = t)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      val mine = answers.filter(_.getLong(0) == qid)
        .map(r => (r.getString(2), r.getDouble(4))).toSeq
      assert(mine === serial, s"query $qid ('$t') must answer like the serial flagship")
      assert(answers.filter(_.getLong(0) == qid)
        .forall(_.getString(1) === t), "answers must carry the query text")
    }
  }

  test("query-serving loop: a micro-batch deeper than maxBatchQueries serves in bounded slices — every id answered exactly once, answers ≡ serial") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    IvfCatalog.assignedChunks(spark, dir, 16).count()
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val got = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val ck = s"/tmp/graft_qserve_slice_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = 16,
      maxBatchQueries = 2, // overflow at 5 queries → 3 slices
      onAnswers = (_, df) => got.synchronized { calls.incrementAndGet(); got ++= df.collect() })
    val texts = Map(
      1L -> "spark join vector query", 2L -> "document quality score",
      3L -> "token budget packing", 4L -> "spark join vector query",
      5L -> "document quality score")
    try {
      source.addData(texts.toSeq.sortBy(_._1): _*)
      q.processAllAvailable()
    } finally q.stop()
    assert(calls.get() === 3,
      s"5 queries at maxBatchQueries=2 must serve as ceil(5/2)=3 slices, got ${calls.get()}")
    val byId = got.groupBy(_.getLong(0))
    assert(byId.keySet === texts.keySet, "every id answered across the slices")
    texts.foreach { case (qid, t) =>
      val serial = graft.pipelines.Pipelines.flagshipIvf(spark, dir, queryText = t)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      val mine = byId(qid).map(r => (r.getString(2), r.getDouble(4))).toSeq
      assert(mine === serial, s"sliced query $qid must answer like the serial flagship")
    }
  }

  test("query-serving loop at pqM>0 serves the compressed batch probe ≡ serial flagshipIvfPq") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    IvfCatalog.assignedChunks(spark, dir, 16).count() // serving index must exist
    graft.IvfPqCatalog.encodedChunks(spark, dir, 16, 48, 32).count() // + its ADC code table
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val ck = s"/tmp/graft_qserve_pq_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = 16, pqM = 48,
      onAnswers = (_, df) => got.synchronized { got ++= df.collect() })
    try {
      source.addData((1L, "spark join vector query"), (2L, "document quality score"))
      q.processAllAvailable()
    } finally q.stop()
    val texts = Map(1L -> "spark join vector query", 2L -> "document quality score")
    assert(got.map(_.getLong(0)).toSet === texts.keySet)
    texts.foreach { case (qid, t) =>
      val serial = graft.pipelines.Pipelines.flagshipIvfPq(spark, dir, queryText = t)
        .collect().map(r => (r.getString(0), r.getDouble(2))).toSeq
      val mine = got.filter(_.getLong(0) == qid)
        .map(r => (r.getString(2), r.getDouble(4))).toSeq
      assert(mine === serial, s"query $qid ('$t') must answer like serial flagshipIvfPq")
    }
  }

  test("query-serving loop: unanswerable queries emit marker rows, never a failed batch") {
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    IvfCatalog.assignedChunks(spark, dir, 16).count()
    implicit val sqlCtx = spark.sqlContext
    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val ck = s"/tmp/graft_qserve_null_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = 16,
      // the batching-depth knob rides along: a triggered loop must answer
      // identically to the default-trigger one
      trigger = Some(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50L)),
      onAnswers = (_, df) => got.synchronized { got ++= df.collect() })
    try {
      // a null text rides in a batch next to a healthy query
      source.addData((1L, "spark join vector query"), (2L, null))
      q.processAllAvailable()
      // a WHOLE batch of null texts (the placeholder-probe shape)
      source.addData((3L, null))
      q.processAllAvailable()
      // the loop must still be alive and serving
      source.addData((4L, "token budget packing"))
      q.processAllAvailable()
    } finally q.stop()
    val byId = got.groupBy(_.getLong(0))
    assert(byId.keySet === Set(1L, 2L, 3L, 4L),
      "every query id must be answered exactly once per batch — marker or hits")
    assert(byId(1L).forall(!_.isNullAt(2)) && byId(1L).nonEmpty)
    Seq(2L, 3L).foreach { qid =>
      val rows = byId(qid).toSeq
      assert(rows.size === 1, s"query $qid must emit exactly ONE marker row")
      assert(rows.head.isNullAt(1) && rows.head.isNullAt(2) && rows.head.isNullAt(4),
        "a marker row carries its (null) text and null answer columns")
    }
    assert(byId(4L).nonEmpty && byId(4L).forall(!_.isNullAt(2)))
  }

  test("query-serving loop answers correctly across a store rewrite between batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val nlist = 31 // isolated generation for this test
    val storeName = IvfCatalog.chunkStoreName(dir, nlist)
    val centName = IvfCatalog.chunkCentroidsName(dir, nlist)
    Seq(storeName, centName, DocLifecycle.docCellsName(dir, nlist))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    // fragment the store so the compaction between batches rewrites files
    graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((970001L, (1 to 8).map(i => s"Serving race fixture sentence $i with " +
        "enough prose that the chunker produces genuine chunks.").mkString(" ")))
        .toDF("doc_id", "text"), dir, nlist)

    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val ck = s"/tmp/graft_qserve_race_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = nlist,
      onAnswers = (_, df) => got.synchronized { got ++= df.collect() })
    try {
      source.addData(1L -> "spark join vector query")
      q.processAllAvailable()
      // a maintenance pass rewrites every store file under the running loop
      Compaction.compactTable(spark, storeName, idCol = "chunk_id", minFiles = 1)
      source.addData(2L -> "spark join vector query")
      q.processAllAvailable()
    } finally q.stop()

    // both sides of the rewrite answered, and identically: the store's
    // CONTENT did not change, so answers before and after must agree
    val byId = got.groupBy(_.getLong(0))
    assert(byId.keySet === Set(1L, 2L))
    val pre = byId(1L).map(r => (r.getString(2), r.getDouble(4))).toSeq
    val post = byId(2L).map(r => (r.getString(2), r.getDouble(4))).toSeq
    assert(pre === post, "a rewrite must never change what the loop answers")
    Seq(storeName, centName, DocLifecycle.docCellsName(dir, nlist))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }

  test("compressed query-serving loop answers correctly across store AND code-table rewrites") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = "/root/testdata/sf0.001"
    val (nlist, m, ksub) = (33, 24, 16) // isolated generation for this test
    val storeName = IvfCatalog.chunkStoreName(dir, nlist)
    val centName = IvfCatalog.chunkCentroidsName(dir, nlist)
    Seq(storeName, centName, DocLifecycle.docCellsName(dir, nlist))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    IvfCatalog.assignedChunks(spark, dir, nlist).count()
    IvfPqCatalog.encodedChunks(spark, dir, nlist, m, ksub).count()
    val codesName = IvfPqCatalog.chunkCodesTableName(spark, dir, nlist, m, ksub)
    // fragment both tables so the passes between batches rewrite files
    graft.streaming.StreamingIngest.ingestDocBatch(
      Seq((980001L, (1 to 8).map(i => s"Compressed serving race fixture sentence $i " +
        "with enough prose that the chunker produces genuine chunks.").mkString(" ")))
        .toDF("doc_id", "text"), dir, nlist, pqM = m, pqKsub = ksub)

    val source = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ListBuffer.empty[org.apache.spark.sql.Row]
    val ck = s"/tmp/graft_qserve_pqrace_ckpt${System.nanoTime()}"
    val q = graft.streaming.StreamingIngest.startQueries(
      source.toDF().toDF("query_id", "query_text"), dir, ck, nlist = nlist,
      pqM = m, pqKsub = ksub,
      onAnswers = (_, df) => got.synchronized { got ++= df.collect() })
    try {
      source.addData(1L -> "spark join vector query")
      q.processAllAvailable()
      // the ×1000 cadence shape: store AND code table rewritten under the
      // running loop — the probe scans both, so the loop's refresh must
      // cover both (refreshing only the store left the codes listing
      // stale and killed the contended batch-32 stream at ×1000)
      Compaction.compactTable(spark, storeName, idCol = "chunk_id", minFiles = 1)
      Compaction.compactTable(spark, codesName, idCol = "chunk_id",
        minFiles = 1, leaseScope = storeName)
      source.addData(2L -> "spark join vector query")
      q.processAllAvailable()
    } finally q.stop()

    val byId = got.groupBy(_.getLong(0))
    assert(byId.keySet === Set(1L, 2L))
    val pre = byId(1L).map(r => (r.getString(2), r.getDouble(4))).toSeq
    val post = byId(2L).map(r => (r.getString(2), r.getDouble(4))).toSeq
    assert(pre === post, "a rewrite must never change what the compressed loop answers")
    spark.sql(s"DROP TABLE IF EXISTS $codesName")
    Seq(storeName, centName, DocLifecycle.docCellsName(dir, nlist))
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
  }
}
