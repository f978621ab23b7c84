package perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.functions._

import graft.engine.WebhookEngine

/** Checks one run's outputs against the evaluator, outside the timed
  * region. An event fails on a wrong ack, a missing or duplicate raw or
  * transformed audit row, a transformed row that disagrees with the
  * evaluator, or a delivery that is missing, duplicated, misrouted or
  * unequal to the evaluator's JSON as a tree. A dashboard call fails on a
  * wrong status, counts below the baseline plus the events already
  * acked or finished when it was sent, or counts that went down.
  *
  * `inject` breaks one input of the check on purpose, to show the check
  * catches it: `drop-audit` drops every tenth event's raw audit row,
  * `perturb-oracle` perturbs every tenth expected output (the sink's
  * `tamperEvery` covers `tamper-sink`).
  */
final class Checker(engine: WebhookEngine, recs: Seq[EventRec],
    receipts: Seq[Receipt], dash: Seq[DashRec], base: Baseline, http: Boolean,
    inject: Option[String]) {

  private val byKey = receipts.groupBy(_.key)

  /** Returns (failed operations, stray deliveries). */
  def run(): (Int, Int) = {
    val rawRows = engine.audit.rawEvents()
      .where(!col("id").startsWith("hist-"))
      .select("id", "payload").collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (!http) {
      // stream ids are made by the program: find each event's by payload
      val byPayload = rawRows.groupBy(_._2)
      recs.foreach(r => byPayload.get(r.input.payload)
        .filter(_.length == 1).foreach(a => r.eventId = a.head._1))
    }
    val rawCount = mutable.Map[String, Int]().withDefaultValue(0)
    rawRows.foreach { case (id, _) => rawCount(id) += 1 }
    if (inject.contains("drop-audit"))
      recs.filter(_.input.seq % 10 == 0).foreach(r => rawCount.remove(r.eventId))
    val trRows = engine.audit.transformedEvents()
      .where(!col("raw_event_id").startsWith("hist-"))
      .select("raw_event_id", "success", "transformed_payload", "response_body")
      .collect()
      .groupBy(_.getString(0))

    val failedEvents = recs.count { r =>
      val want = expected(r)
      val id = r.eventId
      val ok = r.status == 200 && id != null && rawCount(id) == 1 &&
        (trRows.get(id) match {
          case Some(Array(t)) => want match {
            case None => !t.getBoolean(1) && t.getString(3) == GatewayBench.Filtered
            case Some(j) => t.getBoolean(1) && Shapes.sameJson(t.getString(2), j)
          }
          case _ => false
        }) &&
        ((byKey.getOrElse(id, Nil), want) match {
          case (Seq(), None) => true
          case (Seq(rc), Some(j)) =>
            rc.path == GatewayBench.destPath(r.input.shape) &&
              Shapes.sameJson(rc.body, j)
          case _ => false
        })
      !ok
    }
    val ids = recs.flatMap(r => Option(r.eventId)).toSet
    val stray = receipts.count(rc => !ids.contains(rc.key))
    (failedEvents + checkDashboard(), stray)
  }

  private def expected(r: EventRec): Option[JsonNode] = {
    val e = Shapes.expected(r.input.shape, r.input.payload)
    if (inject.contains("perturb-oracle") && r.input.seq % 10 == 0)
      e.map(_.deepCopy[JsonNode]() match {
        case o: com.fasterxml.jackson.databind.node.ObjectNode =>
          o.put("perturbed", 1); o
        case other => other
      })
    else e
  }

  // ---- what had happened by a given instant, seen from outside ----

  private val acked = recs.filter(_.status == 200).map(_.ackNs).sorted.toArray

  private def ackedBefore(t: Long): Int = {
    val i = java.util.Arrays.binarySearch(acked, t)
    if (i >= 0) i else -i - 1
  }

  /** Events certainly finished (delivered or filtered, and audited) by
    * `t`. Over HTTP one worker processes events in queue order, so once
    * the sink holds event k, every event acked before k was sent has been
    * processed and audited. A micro-batch has finished when its call
    * returned.
    */
  private val finishedMarks: Array[(Long, Int)] =
    if (!http) Array.empty
    else {
      val sentOf = recs.flatMap(r => Option(r.eventId).map(_ -> r.sentNs)).toMap
      receipts.flatMap(rc => sentOf.get(rc.key).map(s => rc.nanos -> ackedBefore(s)))
        .sortBy(_._1).toArray
    }

  private def finishedBefore(t: Long): Int =
    if (!http) ackedBefore(t)
    else finishedMarks.iterator.takeWhile(_._1 < t).map(_._2).maxOption.getOrElse(0)

  /** Largest (acked − finished) seen at any ack, from outside. */
  val backlogPeak: Long =
    if (!http) 0L
    else acked.map(t => ackedBefore(t + 1) - finishedBefore(t)).maxOption.getOrElse(0).toLong

  private def ackedBefore(t: Long, path: String): Int =
    recs.count(r => r.status == 200 && r.ackNs < t && Shapes.path(r.input.shape) == path)

  private def checkDashboard(): Int = {
    val last = mutable.Map[String, Long]()
    /** value must reach `floor` and not fall below the last one seen. */
    def grows(key: String, value: Long, floor: Long): Boolean = {
      val ok = value >= floor && value >= last.getOrElse(key, Long.MinValue)
      last(key) = value
      ok
    }
    dash.count { d =>
      val ok = d.status == 200 && {
        val n = Shapes.mapper.readTree(d.body)
        def cell(i: Int, j: Int) = n.path("result").path(i).path(j)
        val tFinished = base.transformed + finishedBefore(d.sentNs)
        d.op match {
          case 0 =>
            n.path("webhook_count").asLong == base.webhooks &
              grows("raw", n.path("raw_event_count").asLong,
                base.raw + ackedBefore(d.sentNs)) &
              grows("tr", n.path("transformed_event_count").asLong, tFinished)
          case 1 => grows("q1", cell(0, 0).asLong(-1), tFinished)
          case 2 => grows("q2", cell(0, 0).asLong(-1), base.success)
          case 3 =>
            val rows = n.path("result")
            Shapes.Names.map(Shapes.path).forall { p =>
              val got = (0 until rows.size).map(rows.get).find(_.get(0).asText == p)
                .map(_.get(1).asLong).getOrElse(-1L)
              grows(s"q3$p", got, base.rawByPath.getOrElse(p, 0L) + ackedBefore(d.sentNs, p))
            }
        }
      }
      !ok
    }
  }
}
