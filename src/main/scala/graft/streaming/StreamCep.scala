package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}

import graft.Tables
import EventStream.Event

/** #33h `stream_cep` — complex-event sequence detection (SURVEY.md §2).
  *
  * The MATCH_RECOGNIZE / FlinkCEP capability Spark lacks natively: detect
  * every occurrence of the per-user pattern [[StageA]] → [[StageB]] →
  * [[StageC]] where each stage is the FIRST matching event strictly after
  * the previous one, within [[GapMicros]] of it (the view→click→purchase
  * conversion trace; `q11_funnel` answers "did the user EVER convert",
  * CEP answers "emit EACH conversion occurrence as it completes").
  *
  * Declared semantics (Flink's AFTER MATCH SKIP TO NEXT ROW): every
  * [[StageA]] event anchors an independent match attempt; "after" is the
  * shared packed (micros, event_id) total order
  * ([[graft.etl.Survivorship.orderKey]]), so batch, stream, and oracle
  * order events identically even at microsecond collisions.
  *
  * Batch twin: two chained FORWARD as-of joins, each via the union +
  * partition-ordered window-min decomposition (the `q9_asof` trick
  * mirrored forward): interleave anchors and candidates on the total
  * order, take min(candidate key) over ROWS 1 FOLLOWING..∞, join the
  * winner back by its unique key, gate on the gap. One shuffle per stage,
  * all on the uniform user_id key — no range-explosion join, no per-event
  * subqueries. FULL oracle (correlated min-subqueries — same semantics).
  *
  * Streaming path: flatMapGroupsWithState keyed by user; state = the open
  * anchors still inside their gap deadline, hard-capped at [[MaxOpen]]
  * (oldest dropped — the `stream_neardup` bounded-state contract).
  * Processing in key order makes "first B / first C after" greedy-correct;
  * anchors expire the moment an arriving event's time passes their
  * deadline, so state is bounded by anchor density within one gap window. */
object StreamCep extends graft.QueryModule {

  val StageA = "view"
  val StageB = "click"
  val StageC = "purchase"
  val GapMicros = 43200000000L // 12 h per stage
  val MaxOpen = 32

  /** Batch twin: every completed anchor, declaratively. */
  def cepBatch(s: SparkSession, dir: String): DataFrame = {
    // persist: the three stage slices and both join-backs all read this
    val ev = graft.CacheRegistry.track(Tables.events(s, dir)
      .filter(col("event_type").isin(StageA, StageB, StageC))
      .select(col("user_id"), col("event_type"), col("event_id"),
        unix_micros(col("ts")).as("m"), graft.etl.Survivorship.orderKey.as("k")))
    val a = ev.filter(col("event_type") === StageA)
      .select(col("user_id"), col("k").as("ak"), col("m").as("am"), col("event_id").as("aid"))
    val b = ev.filter(col("event_type") === StageB)
      .select(col("user_id"), col("k").as("bk"), col("m").as("bm"), col("event_id").as("bid"))
    val c = ev.filter(col("event_type") === StageC)
      .select(col("user_id"), col("k").as("ck"), col("m").as("cm"), col("event_id").as("cid"))

    val wFollow = Window.partitionBy(col("user_id")).orderBy(col("pos"))
      .rowsBetween(1, Window.unboundedFollowing)

    // stage 1: first B strictly after each A in the total order
    val u1 = a.select(col("user_id"), col("ak").as("pos"), col("ak"), col("am"),
        col("aid"), lit(null).cast("long").as("bcand"))
      .unionByName(b.select(col("user_id"), col("bk").as("pos"),
        lit(null).cast("long").as("ak"), lit(null).cast("long").as("am"),
        lit(null).cast("long").as("aid"), col("bk").as("bcand")))
    val bBack = b.select(col("user_id").as("bu"), col("bk"), col("bm"), col("bid"))
    val withB = u1.withColumn("nbk", min(col("bcand")).over(wFollow))
      .filter(col("aid").isNotNull && col("nbk").isNotNull)
      .join(bBack, col("user_id") === col("bu") && col("nbk") === col("bk"))
      .filter(col("bm") <= col("am") + GapMicros)
      .select(col("user_id"), col("ak"), col("am"), col("aid"),
        col("bk"), col("bm"), col("bid"))

    // stage 2: first C strictly after the matched B
    val u2 = withB.select(col("user_id"), col("bk").as("pos"), col("ak"), col("am"),
        col("aid"), col("bk"), col("bm"), col("bid"), lit(null).cast("long").as("ccand"))
      .unionByName(c.select(col("user_id"), col("ck").as("pos"),
        lit(null).cast("long").as("ak"), lit(null).cast("long").as("am"),
        lit(null).cast("long").as("aid"), lit(null).cast("long").as("bk"),
        lit(null).cast("long").as("bm"), lit(null).cast("long").as("bid"),
        col("ck").as("ccand")))
    val cBack = c.select(col("user_id").as("cu"), col("ck"), col("cm"), col("cid"))
    u2.withColumn("nck", min(col("ccand")).over(wFollow))
      .filter(col("aid").isNotNull && col("nck").isNotNull)
      .join(cBack, col("user_id") === col("cu") && col("nck") === col("ck"))
      .filter(col("cm") <= col("bm") + GapMicros)
      .select(col("user_id"), col("aid").as("a_id"), col("bid").as("b_id"),
        col("cid").as("c_id"),
        expr("(bm - am) div 1000000").as("ab_secs"),
        expr("(cm - bm) div 1000000").as("bc_secs"))
      .orderBy(col("user_id"), col("a_id"))
  }

  case class CepMatch(user_id: Long, a_id: Long, b_id: Long, c_id: Long,
    ab_secs: Long, bc_secs: Long)
  case class Open(ak: Long, aid: Long, am: Long,
    bk: Long, bid: Long, bm: Long, hasB: Boolean)
  case class CepState(open: List[Open], lastK: Long)

  private def micros(e: Event): Long =
    e.ts.getTime * 1000L + (e.ts.getNanos / 1000L) % 1000L
  private def packedKey(e: Event): Long =
    (micros(e) - graft.etl.Survivorship.OrderEpochMicros) * graft.etl.Survivorship.OrderIdSlots +
      java.lang.Math.floorMod(e.event_id, graft.etl.Survivorship.OrderIdSlots)

  /** Streaming path: greedy in-order automaton per user, bounded state. */
  def cepStream(events: Dataset[Event]): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .flatMapGroupsWithState[CepState, CepMatch](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (uid: Long, rows: Iterator[Event], state) =>
          var st = state.getOption.getOrElse(CepState(Nil, Long.MinValue))
          var open = st.open
          var lastK = st.lastK
          val out = Seq.newBuilder[CepMatch]
          rows.toSeq.sortBy(packedKey).foreach { e =>
            val k = packedKey(e)
            if (k > lastK) { // re-delivered / out-of-order records are silent
              val m = micros(e)
              // expire anchors whose next stage can no longer arrive in time
              open = open.filter(o =>
                if (o.hasB) m <= o.bm + GapMicros else m <= o.am + GapMicros)
              e.event_type match {
                case StageA =>
                  open = open :+ Open(k, e.event_id, m, 0L, 0L, 0L, hasB = false)
                  if (open.size > MaxOpen) open = open.drop(open.size - MaxOpen)
                case StageB =>
                  open = open.map(o =>
                    if (!o.hasB && o.ak < k)
                      o.copy(bk = k, bid = e.event_id, bm = m, hasB = true)
                    else o)
                case StageC =>
                  val (done, rest) = open.partition(o => o.hasB && o.bk < k)
                  done.foreach(o => out += CepMatch(uid, o.aid, o.bid, e.event_id,
                    Math.floorDiv(o.bm - o.am, 1000000L),
                    Math.floorDiv(m - o.bm, 1000000L)))
                  open = rest
                case _ => ()
              }
              lastK = k
            }
          }
          state.update(CepState(open, lastK))
          out.result().iterator
      }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cep" -> (cepBatch _))

  val oracles: Map[String, String] = Map(
    "stream_cep" ->
      s"""WITH e AS (SELECT user_id, event_type, event_id, epoch_us(ts) AS m,
         |  (epoch_us(ts) - ${graft.etl.Survivorship.OrderEpochMicros}) * 8192
         |   + (event_id % 8192) AS k
         | FROM events),
         |a AS (SELECT user_id, k AS ak, m AS am, event_id AS aid
         | FROM e WHERE event_type = '$StageA'),
         |b1 AS (SELECT a.*, (SELECT min(b.k) FROM e b
         |   WHERE b.user_id = a.user_id AND b.event_type = '$StageB'
         |     AND b.k > a.ak) AS nbk
         | FROM a),
         |m1 AS (SELECT b1.user_id, b1.ak, b1.am, b1.aid,
         |  bb.k AS bk, bb.m AS bm, bb.event_id AS bid
         | FROM b1 JOIN e bb ON bb.user_id = b1.user_id AND bb.k = b1.nbk
         | WHERE bb.m <= b1.am + $GapMicros),
         |c1 AS (SELECT m1.*, (SELECT min(c.k) FROM e c
         |   WHERE c.user_id = m1.user_id AND c.event_type = '$StageC'
         |     AND c.k > m1.bk) AS nck
         | FROM m1)
         |SELECT c1.user_id, c1.aid AS a_id, c1.bid AS b_id, cc.event_id AS c_id,
         | (c1.bm - c1.am) // 1000000 AS ab_secs,
         | (cc.m - c1.bm) // 1000000 AS bc_secs
         |FROM c1 JOIN e cc ON cc.user_id = c1.user_id AND cc.k = c1.nck
         |WHERE cc.m <= c1.bm + $GapMicros
         |ORDER BY c1.user_id, a_id""".stripMargin)
}
