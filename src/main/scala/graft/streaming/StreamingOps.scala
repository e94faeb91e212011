package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming operators (SURVEY.md §2.10).
  *
  * The reference is batch-only; its stateful constructs (conversation
  * windows W1/W2) map to these streaming twins per the north star:
  * event-time windowed aggregation with watermarks, and gap-based
  * sessionization via flatMapGroupsWithState. Each operator works on both a
  * streaming and a batch DataFrame (same code path — Structured Streaming's
  * contract), so the batch oracle queries in EventQueries double as the
  * correctness reference for the streaming plans.
  */
object StreamingOps {

  /** Event row for typed stateful ops. */
  case class Event(ts: Timestamp, user_id: Long, event_type: String, value: Double)

  /** Emitted session summary. */
  case class Session(user_id: Long, session_start: Timestamp, session_end: Timestamp,
                     n_events: Long, total_value: Double)

  case class SessionState(start: Long, end: Long, n: Long, total: Double)

  /** Tumbling/sliding event-time window aggregation with a watermark: the
    * streaming twin of EventQueries.evt_hourly_stats. */
  def windowedStats(events: DataFrame, windowDuration: String = "1 hour",
                    slideDuration: Option[String] = None,
                    watermarkDelay: String = "10 minutes"): DataFrame = {
    val win = slideDuration match {
      case Some(slide) => window(col("ts"), windowDuration, slide)
      case None        => window(col("ts"), windowDuration)
    }
    events.withWatermark("ts", watermarkDelay)
      .groupBy(win.as("window"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
           sum(col("value").cast("decimal(38,6)")).cast("double").as("total_value"))
  }

  /** Gap-based sessionization with explicit state: a session closes after
    * `gapMinutes` of per-user inactivity (event-time timeout). Streaming
    * twin of the batch lag/cumsum sessionization in EventQueries. */
  def sessionize(events: Dataset[Event], gapMinutes: Int = 30): Dataset[Session] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60L * 1000L
    events.withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val out = scala.collection.mutable.ListBuffer.empty[Session]
          var cur = state.getOption
          if (state.hasTimedOut) {
            cur.foreach(s => out += Session(userId, new Timestamp(s.start),
              new Timestamp(s.end), s.n, s.total))
            state.remove()
            cur = None
          }
          for (e <- batch.toSeq.sortBy(_.ts.getTime)) {
            cur match {
              case Some(s) if e.ts.getTime - s.end <= gapMs =>
                // min/max: a late (but not watermark-dropped) event from an
                // earlier micro-batch must never move the bounds backwards
                cur = Some(SessionState(math.min(s.start, e.ts.getTime),
                  math.max(s.end, e.ts.getTime), s.n + 1, s.total + e.value))
              case Some(s) =>
                out += Session(userId, new Timestamp(s.start), new Timestamp(s.end), s.n, s.total)
                cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value))
              case None =>
                cur = Some(SessionState(e.ts.getTime, e.ts.getTime, 1L, e.value))
            }
          }
          cur.foreach { s =>
            state.update(s)
            state.setTimeoutTimestamp(s.end + gapMs)
          }
          out.iterator
      }
  }

  /** Streaming exact dedup: first occurrence per key wins, with
    * watermark-bounded state — the streaming twin of
    * Dedup.dropExactDuplicates for continuous ingestion (re-crawled or
    * re-delivered documents dropped at the door, state evicted once the
    * watermark passes). `keyCols` would be the content digest column in the
    * ingestion pipeline. */
  def dedupStream(events: DataFrame, keyCols: Seq[String],
                  watermarkDelay: String = "10 minutes"): DataFrame =
    events.withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark(keyCols.head, keyCols.tail: _*)

  /** Document arriving on a stream (ts = ingestion event time). */
  case class DocEvent(ts: Timestamp, doc_id: Long, text: String)

  /** Near-duplicate verdict emitted by [[nearDupPairsStream]]; ids ordered
    * (id_a < id_b), est_jaccard = fraction of equal MinHash slots. */
  case class NearDupPair(id_a: Long, id_b: Long, est_jaccard: Double)

  /** Streaming MinHash near-dup detection — the streaming twin of
    * `Dedup.minHashPairsFast` for continuous ingestion. Same LSH geometry as
    * the batch path (shingle → k-slot signature → band keys), but state- not
    * join-shaped: the stream is exploded to one row per band key, grouped by
    * band key, and each bucket keeps the signatures it has seen. A new
    * document is compared ONLY against its own buckets' residents — the
    * exact streaming analogue of "pairwise work confined to hash buckets".
    *
    * Two deliberate deviations from the batch twin, both inherent to
    * streaming:
    *  - verification uses the signature Jaccard ESTIMATE (equal slots / k,
    *    granularity 1/k) rather than true shingle-set Jaccard — state holds
    *    k longs per doc instead of the full shingle set. Callers wanting the
    *    batch bar verify flagged pairs against the stored corpus offline;
    *    `estThreshold` defaults 2/k under the usual 0.8 bar to keep recall.
    *  - a pair sharing several band keys is emitted once per shared bucket;
    *    dedup downstream (the batch twin's `.distinct()` equivalent).
    *
    * State is bounded three ways: per-bucket FIFO cap (`maxPerBucket`),
    * event-time idle eviction (`idleGapMs` past the bucket's newest doc),
    * and the watermark bounding how late a document can arrive at all. */
  def nearDupPairsStream(docs: Dataset[DocEvent], estThreshold: Double = 0.8 - 2.0 / 16,
                         n: Int = 3, k: Int = 16, bands: Int = 4, rows: Int = 4,
                         watermarkDelay: String = "10 minutes",
                         idleGapMs: Long = 60L * 60 * 1000,
                         maxPerBucket: Int = 256): Dataset[NearDupPair] = {
    import docs.sparkSession.implicits._
    require(bands * rows == k, "bands*rows must equal signature length")
    val banded = docs.flatMap { d =>
      val sig = graft.operators.Dedup
        .minHashSignatureFastScala(graft.operators.Dedup.shinglesScala(d.text, n).toSeq, k)
      (0 until bands).map { b =>
        (s"$b|${sig.slice(b * rows, (b + 1) * rows).mkString(",")}",
          d.doc_id, sig.toSeq, d.ts)
      }
    }.toDF("band_key", "doc_id", "sig", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(String, Long, Seq[Long], Timestamp)]
    banded.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Seq[Long])], NearDupPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: String, batch: Iterator[(String, Long, Seq[Long], Timestamp)],
         state: GroupState[Seq[(Long, Seq[Long])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ListBuffer.empty[NearDupPair]
            var seen = state.getOption.getOrElse(Seq.empty)
            var maxTs = 0L
            for ((_, id, sig, t) <- batch.toSeq.sortBy(x => (x._4.getTime, x._2))) {
              maxTs = math.max(maxTs, t.getTime)
              for ((sid, ssig) <- seen if sid != id) {
                var eq = 0
                var i = 0
                while (i < k) { if (ssig(i) == sig(i)) eq += 1; i += 1 }
                val est = eq.toDouble / k
                if (est >= estThreshold)
                  out += NearDupPair(math.min(sid, id), math.max(sid, id), est)
              }
              if (!seen.exists(_._1 == id))
                seen = (seen :+ (id -> sig)).takeRight(maxPerBucket)
            }
            state.update(seen)
            state.setTimeoutTimestamp(
              math.max(maxTs + idleGapMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** Embedding arriving on a stream (ts = ingestion event time). */
  case class VecEvent(ts: Timestamp, vec_id: Long, embedding: Seq[Float])

  /** Near-dup verdict emitted by [[celledPairsStream]] — exact cosine, ids
    * ordered (left_id < right_id), same columns as the batch twin. */
  case class CelledPair(left_id: Long, right_id: Long, cosine: Double)

  /** Streaming twin of `Dedup.embeddingPairsCelled` — celled embedding
    * near-dup for continuous ingestion. Same IVF geometry as the batch
    * path (each vector keys to its top-`nprobe` cells under the identical
    * (-cosine, centroid_id) ordering), but state- not buffer-shaped: each
    * cell's state holds the vectors it has seen, and a new arrival is
    * exact-cosine-compared ONLY against its own cells' residents — the
    * streaming analogue of "pairwise work confined to cells", which is
    * why it inherits the dense-regime property (no candidate join, disk
    * bounded by survivors). Unlike the MinHash twin, verification is the
    * EXACT cosine (state already holds the vectors), so a pair carries the
    * same value the batch kernel computes; fed the same arrivals, the
    * distinct streamed pair set equals the batch pair set (StreamingSpec).
    *
    * Same documented deviations as the MinHash twin: a pair sharing both
    * probe cells is emitted once per shared cell (dedup downstream), and
    * state is bounded by per-cell FIFO cap + event-time idle eviction +
    * the watermark. Centroids are driver-known index metadata (an index
    * epoch, IvfCatalog-style) — retrain ⇒ new epoch ⇒ new query. */
  def celledPairsStream(vecs: Dataset[VecEvent], centroids: Array[(Long, Array[Float])],
                        minCosine: Double, nprobe: Int = 2,
                        watermarkDelay: String = "10 minutes",
                        idleGapMs: Long = 60L * 60 * 1000,
                        maxPerCell: Int = 4096): Dataset[CelledPair] = {
    import graft.functions.VectorFunctions.cosineArrays
    import vecs.sparkSession.implicits._
    require(centroids.nonEmpty, "celledPairsStream needs at least one centroid")
    val probes = math.min(nprobe, centroids.length)
    val bar = minCosine
    val celled = vecs.flatMap { v =>
      if (v.embedding == null) Iterator.empty
      else graft.operators.Dedup.topCells(centroids, v.embedding.toArray, probes).iterator
        .map(cid => (cid, v.vec_id, v.embedding, v.ts))
    }.toDF("cell", "vec_id", "embedding", "ts")
      .withWatermark("ts", watermarkDelay)
      .as[(Long, Long, Seq[Float], Timestamp)]
    celled.groupByKey(_._1)
      .flatMapGroupsWithState[Seq[(Long, Seq[Float])], CelledPair](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (_: Long, batch: Iterator[(Long, Long, Seq[Float], Timestamp)],
         state: GroupState[Seq[(Long, Seq[Float])]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val out = scala.collection.mutable.ListBuffer.empty[CelledPair]
            var seen = state.getOption.getOrElse(Seq.empty)
            var maxTs = 0L
            for ((_, id, emb, t) <- batch.toSeq.sortBy(x => (x._4.getTime, x._2))) {
              maxTs = math.max(maxTs, t.getTime)
              val a = emb.toArray
              for ((sid, semb) <- seen if sid != id) {
                val cos = cosineArrays(semb.toArray, a)
                if (cos >= bar)
                  out += CelledPair(math.min(sid, id), math.max(sid, id), cos)
              }
              if (!seen.exists(_._1 == id))
                seen = (seen :+ (id -> emb)).takeRight(maxPerCell)
            }
            state.update(seen)
            state.setTimeoutTimestamp(
              math.max(maxTs + idleGapMs, state.getCurrentWatermarkMs() + 1))
            out.iterator
          }
      }
  }

  /** W1/W2 streaming twin: running last-N conversation window per key kept
    * in state; emits the trimmed history on every update. Idle keys are
    * evicted once the watermark passes `idleGapMs` beyond their newest
    * event (an unbounded user-id space would otherwise grow the state store
    * without bound); a timed-out key simply restarts its window on its next
    * event. Event-time eviction (not processing-time) so timeouts advance
    * with the data, never with wall-clock trigger loops. */
  def lastNPerKey(events: Dataset[Event], n: Int = 10,
                  watermarkDelay: String = "10 minutes",
                  idleGapMs: Long = 60L * 60 * 1000): Dataset[(Long, Seq[Long])] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[Seq[Long], (Long, Seq[Long])](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[Seq[Long]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prior = state.getOption.getOrElse(Seq.empty)
            val updated = (prior ++ batch.toSeq.sortBy(_.ts.getTime).map(_.ts.getTime))
              .takeRight(n)
            state.update(updated)
            state.setTimeoutTimestamp(
              math.max(updated.max + idleGapMs, state.getCurrentWatermarkMs() + 1))
            Iterator((userId, updated))
          }
      }
  }

  /** An emitted as-of match: a left event with the latest right event
    * at-or-before it (inclusive), per key. */
  case class AsOfMatch(user_id: Long, ts: Timestamp, value: Double,
                       matched_ts: Timestamp, matched_value: Double)

  /** (tsMicros, value) buffers, each ascending by ts. `rights` holds at
    * most one entry at-or-below the watermark (the candidate for every
    * pending and future left) plus the not-yet-final tail — the
    * bounded-state invariant. MICROSECOND event time: Timestamp.getTime
    * would truncate to ms and let a right that fired sub-ms AFTER a left
    * match it — diverging from the micros-resolution batch twin. */
  case class AsOfState(lefts: List[(Long, Double)], rights: List[(Long, Double)])

  private def tsToUs(t: Timestamp): Long =
    Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L

  private def usToTs(us: Long): Timestamp = {
    val t = new Timestamp(Math.floorDiv(us, 1000000L) * 1000L)
    t.setNanos((Math.floorMod(us, 1000000L) * 1000L).toInt)
    t
  }

  /** Streaming twin of [[graft.operators.AsOf.asOfJoin]]: events of
    * `leftType` enriched with the latest `rightType` event at-or-before
    * them for the same user — stream-side "which click preceded this
    * purchase", emitted exactly once, correct under out-of-order arrival.
    *
    * Why buffering is necessary: the latest right for a left event may
    * arrive in a LATER micro-batch (out-of-order within the watermark
    * delay), so matching eagerly would emit wrong pairs. A left is final
    * only once the watermark passes its event time — from then on no
    * right with a smaller ts can arrive — so lefts buffer until finality,
    * exactly one micro-batch's worth of lateness bound behind the data.
    *
    * State is bounded on both sides: lefts drain as the watermark
    * advances; of the rights at-or-below the watermark only the latest one
    * can ever match anything (pending and future lefts all have ts above
    * it), so the rest are pruned every invocation. Idle keys evict after
    * `idleGapMs` (their pending lefts flush first — the timeout timestamp
    * never jumps past a pending left). Eviction is a deliberate
    * state-size/completeness trade the batch join doesn't have: a left
    * arriving more than `idleGapMs` after its key's last event finds no
    * retained right — size `idleGapMs` to the longest gap that should
    * still match (the parity spec disables it for exact batch agreement).
    * Rights at equal (user, ts) keep the max value, the same tie rule the
    * batch query pins with max(event_id). Unmatched lefts emit nothing
    * (inner as-of, like the batch twin). */
  def asOfStream(events: Dataset[Event], leftType: String = "purchase",
                 rightType: String = "click",
                 watermarkDelay: String = "30 minutes",
                 idleGapMs: Long = 2L * 3600 * 1000): Dataset[AsOfMatch] = {
    import events.sparkSession.implicits._
    events.filter(e => e.event_type == leftType || e.event_type == rightType)
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AsOfState, AsOfMatch](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[AsOfState]) =>
          val prior = state.getOption.getOrElse(AsOfState(Nil, Nil))
          val evs = batch.toList
          val lefts = (prior.lefts ++
            evs.filter(_.event_type == leftType).map(e => (tsToUs(e.ts), e.value)))
            .sorted
          val rights = (prior.rights ++
            evs.filter(_.event_type == rightType).map(e => (tsToUs(e.ts), e.value)))
            .groupBy(_._1).map { case (t, vs) => (t, vs.map(_._2).max) }
            .toList.sorted
          // watermark is ms; buffers are micros. An event whose millisecond
          // EQUALS the watermark is not late yet (late means ts < watermark),
          // so only micros strictly below wm*1000 are final — finalizing the
          // watermark's own millisecond would emit matches a same-millisecond
          // right arriving in the next micro-batch could still change
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val (ready, pending) = lefts.partition(_._1 < wmUs)
          val out = ready.flatMap { case (lt, lv) =>
            rights.takeWhile(_._1 <= lt).lastOption.map { case (rt, rv) =>
              AsOfMatch(userId, usToTs(lt), lv, usToTs(rt), rv)
            }
          }
          val (finalRights, tailRights) = rights.partition(_._1 < wmUs)
          val kept = finalRights.lastOption.toList ++ tailRights
          // evict only on true idleness (watermark an idleGap past the last
          // right), never on a pending-left flush timeout — that timeout
          // must leave the retained right behind for later lefts
          val idleExpired = pending.isEmpty && kept.nonEmpty && state.hasTimedOut &&
            wmUs - kept.map(_._1).max >= idleGapMs * 1000L
          if (pending.isEmpty && (kept.isEmpty || idleExpired)) {
            state.remove()
          } else {
            state.update(AsOfState(pending, kept))
            val wakeMs = pending.headOption.map(_._1 / 1000L)
              .getOrElse(kept.map(_._1).max / 1000L + idleGapMs)
            state.setTimeoutTimestamp(math.max(wakeMs, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }
  }

  /** Document arriving on an ingest stream for packing: shard key, stable
    * id, pre-counted tokens. */
  case class PackDoc(ts: Timestamp, shard: String, doc_id: Long, n_tokens: Long)

  /** Pack span emitted by [[packStream]] — same columns and semantics as
    * `Sampling.packSequences`. */
  case class PackSpan(shard: String, doc_id: Long, n_tokens: Long,
                      pack_start: Long, pack_end: Long, start_offset: Long)

  /** public, not private: state codegen reads the field via its accessor
    * and silently fails when it can't reach it (same rule as LangVote) */
  case class PackCursor(cum: Long)

  /** Streaming twin of `Sampling.packSequences`: a running token cursor per
    * shard lays arriving documents into budget-sized packs continuously —
    * the ingest-time form of concat-and-cut (each new document's span is
    * assigned the moment it arrives; no corpus pass). Within a micro-batch,
    * documents order by (ts, doc_id) so output is deterministic under
    * batch-boundary placement; across batches, packing follows arrival
    * order — feed the stream in the batch twin's id order and the outputs
    * agree row-for-row (pinned by StreamingSpec). State is ONE long per
    * shard (the cursor), so there is nothing to evict — shards are bounded
    * by construction, unlike keys. */
  def packStream(docs: Dataset[PackDoc], budget: Int): Dataset[PackSpan] = {
    require(budget > 0, s"token budget must be positive, got $budget")
    import docs.sparkSession.implicits._
    docs.groupByKey(_.shard)
      .flatMapGroupsWithState[PackCursor, PackSpan](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard: String, batch: Iterator[PackDoc], state: GroupState[PackCursor]) =>
          var cum = state.getOption.map(_.cum).getOrElse(0L)
          val out = batch.toSeq.sortBy(d => (d.ts.getTime, d.doc_id)).map { d =>
            val start = cum
            cum += d.n_tokens
            // (cum-1)/budget truncates toward zero; max() pins the cum==0
            // all-empty-prefix edge to pack_start, same as the batch twin
            PackSpan(shard, d.doc_id, d.n_tokens,
              start / budget,
              math.max((cum - 1) / budget, start / budget),
              start % budget)
          }
          state.update(PackCursor(cum))
          out.iterator
      }
  }
}
