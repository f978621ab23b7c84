package perfbench

import java.util.Locale

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.databind.node.ObjectNode

/** One generated event: the webhook shape it is posted to and its payload. */
final case class Input(seq: Int, shape: String, payload: String)

/** The shape mix every workload shares: five standing (filter, transform)
  * queries, a seeded payload generator, and an evaluator that decides in
  * plain Scala over Jackson trees, apart from Spark, whether each event
  * passes its filter and what its shaped output must be.
  */
object Shapes {
  val mapper = new ObjectMapper()

  val Names: Seq[String] = Seq("proj", "agg", "join", "udf", "slow")
  /** Events of each shape in every block of 20 consecutive events: an
    * equal share each, as no record of real traffic gives the shapes'
    * proportions. Exact counts keep the work of a run the same whatever
    * the seed.
    */
  val PerShape = 4
  val BlockSize: Int = Names.size * PerShape
  /** The shapes of a block in a fixed order: with a seeded order, where
    * the slow and per-event-only shapes fell in a burst round moved
    * delivery latency by a quarter from seed to seed.
    */
  val BlockOrder: Seq[String] = Seq.fill(PerShape)(Names).flatten
  /** One event per block (5%) carries a key no earlier payload had, so it
    * misses the per-(webhook, key-shape) schema cache and forces inference.
    * The share is an assumption, not a measured one.
    */
  val NovelPerBlock = 1
  /** Fixed answer delay of the `slow` webhook's destination (an assumed
    * slow receiver, long enough to stand out from a ~60 ms event).
    */
  val SlowDelayMs = 25
  val RefSkus = 20
  /** Payload SKUs range past the reference table, so some LEFT JOINs miss. */
  val PayloadSkus = 25
  /** Upper bound of the `agg` payload's element count (1 = a bare object). */
  val MaxAggRows = 5

  def path(shape: String): String = s"/bench/$shape"

  val RefCsv: String = ("sku,name,price_cents" +: (0 until RefSkus).map(i =>
    s"SKU-$i,Widget $i,${100 + 37 * i}")).mkString("\n")

  /** The evaluator's own reading of the uploaded CSV. */
  private val refTable: Map[String, (String, Long)] =
    RefCsv.linesIterator.drop(1).map { l =>
      val Array(sku, name, price) = l.split(",")
      sku -> (name, price.toLong)
    }.toMap

  val UdfName = "mask"
  /** UDF source; `variant` only adds a comment, so each set-up compiles it
    * afresh instead of hitting the in-process compile cache.
    */
  def udfSource(variant: Int): String =
    s"""def mask(s: String): String = if (s == null) null else s.take(3) + "***" // v$variant"""

  def filterFor(shape: String): Option[String] = shape match {
    case "proj" => Some("amount >= 50")
    case "join" => Some("qty > 1")
    case "udf" => Some("score >= 3")
    case _ => None
  }

  def transformFor(shape: String, refTable: String, udf: String): String =
    shape match {
      case "proj" => "SELECT id, customer.name AS who, customer.tier AS tier, " +
          "amount * 2 AS double_amount FROM {{payload}}"
      case "agg" => "SELECT category, COUNT(*) AS n, SUM(qty) AS total_qty " +
          "FROM {{payload}} GROUP BY category ORDER BY category"
      case "join" => "SELECT p.order_id, p.sku, r.name AS product, " +
          "r.price_cents * p.qty AS line_cents FROM {{payload}} p " +
          s"LEFT JOIN $refTable r ON p.sku = r.sku"
      case "udf" => s"SELECT id, $udf(email) AS masked, plan FROM {{payload}}"
      case "slow" => "SELECT id, upper(note) AS note FROM {{payload}}"
    }

  // ---- evaluator ----

  /** The shaped JSON the webhook must deliver for `payload`, or None when
    * its filter drops the event.
    */
  def expected(shape: String, payload: String): Option[JsonNode] = {
    val p = mapper.readTree(payload)
    shape match {
      case "proj" =>
        if (p.get("amount").asLong < 50) None
        else Some(obj("id" -> p.get("id").asLong,
          "who" -> p.get("customer").get("name").asText,
          "tier" -> p.get("customer").get("tier").asText,
          "double_amount" -> p.get("amount").asLong * 2))
      case "agg" =>
        val rows = if (p.isArray) p.elements().asScala.toSeq else Seq(p)
        val groups = rows.groupBy(_.get("category").asText).toSeq.sortBy(_._1)
          .map { case (c, rs) =>
            obj("category" -> c, "n" -> rs.size.toLong,
              "total_qty" -> rs.map(_.get("qty").asLong).sum)
          }
        Some(shaped(groups))
      case "join" =>
        val qty = p.get("qty").asLong
        if (qty <= 1) None
        else {
          val sku = p.get("sku").asText
          val base = obj("order_id" -> p.get("order_id").asLong, "sku" -> sku)
          refTable.get(sku).foreach { case (name, price) =>
            base.put("product", name)
            base.put("line_cents", price * qty)
          }
          Some(base)
        }
      case "udf" =>
        if (p.get("score").asLong < 3) None
        else Some(obj("id" -> p.get("id").asLong,
          "masked" -> (p.get("email").asText.take(3) + "***"),
          "plan" -> p.get("plan").asText))
      case "slow" =>
        Some(obj("id" -> p.get("id").asLong,
          "note" -> p.get("note").asText.toUpperCase(Locale.ROOT)))
    }
  }

  /** The gateway's result shaping: one row flat, several under
    * `results`, none as `{}`.
    */
  private def shaped(rows: Seq[ObjectNode]): JsonNode = rows match {
    case Seq() => mapper.createObjectNode()
    case Seq(one) => one
    case many =>
      val o = mapper.createObjectNode()
      val arr = o.putArray("results")
      many.foreach(arr.add(_))
      o
  }

  private def obj(kvs: (String, Any)*): ObjectNode = {
    val o = mapper.createObjectNode()
    kvs.foreach {
      case (k, v: String) => o.put(k, v)
      case (k, v: Long) => o.put(k, v)
      case (k, v: Int) => o.put(k, v)
      case (k, v) => throw new IllegalArgumentException(s"$k: $v")
    }
    o
  }

  /** Tree equality with numbers compared by value, so an integer the
    * program writes as a long still equals the evaluator's int.
    */
  def sameTree(a: JsonNode, b: JsonNode): Boolean =
    a.equals((x: JsonNode, y: JsonNode) =>
      if (x.isNumber && y.isNumber)
        x.decimalValue.compareTo(y.decimalValue)
      else if (x.equals(y)) 0 else 1, b)

  def sameJson(text: String, want: JsonNode): Boolean =
    try sameTree(mapper.readTree(text), want)
    catch { case _: Throwable => false }
}

/** Seeded event stream over the shape mix. The same seed gives the same
  * stream; `prefix` keeps warm-up events apart from measured ones.
  */
final class Gen(seed: Long, novel: Boolean = true, prefix: Int = 0) {
  import Shapes._
  private val rnd = new scala.util.Random(seed)
  private var seq = 0
  private var pending = List.empty[(String, Boolean)]
  private val Tiers = Seq("gold", "silver", "bronze")
  private val Categories = Seq("a", "b", "c")

  /** The next event of the stream: blocks in [[Shapes.BlockOrder]], with
    * the novel-key events at seeded places.
    */
  def next(): Input = {
    if (pending.isEmpty) {
      val novelAt = rnd.shuffle(BlockOrder.indices.toList).take(NovelPerBlock).toSet
      pending = BlockOrder.zipWithIndex.map { case (s, i) => (s, novel && novelAt(i)) }.toList
    }
    val (shape, isNovel) = pending.head
    pending = pending.tail
    make(shape, isNovel)
  }

  /** An event of the given shape with no novel key. */
  def nextOf(shape: String): Input = make(shape, isNovel = false)

  private def make(shape: String, isNovel: Boolean): Input = {
    seq += 1
    val id = prefix.toLong * 1000000L + seq
    val o = mapper.createObjectNode()
    val payload: JsonNode = shape match {
      case "proj" =>
        o.put("id", id)
        o.put("amount", rnd.nextInt(100).toLong)
        val c = o.putObject("customer")
        c.put("name", s"cust-${rnd.nextInt(1000)}")
        c.put("tier", Tiers(rnd.nextInt(Tiers.size)))
        o.put("items", (1 + rnd.nextInt(9)).toLong)
        o
      case "agg" =>
        val n = 1 + rnd.nextInt(MaxAggRows)
        val rows = (0 until n).map { i =>
          val e = mapper.createObjectNode()
          e.put("ev", id)
          e.put("line", i.toLong)
          e.put("category", Categories(rnd.nextInt(Categories.size)))
          e.put("qty", (1 + rnd.nextInt(20)).toLong)
          e
        }
        if (n == 1) rows.head
        else {
          val arr = mapper.createArrayNode()
          rows.foreach(arr.add(_))
          arr
        }
      case "join" =>
        o.put("order_id", id)
        o.put("sku", s"SKU-${rnd.nextInt(PayloadSkus)}")
        o.put("qty", (1 + rnd.nextInt(9)).toLong)
        o
      case "udf" =>
        o.put("id", id)
        o.put("email", s"user${rnd.nextInt(10000)}@mail${rnd.nextInt(5)}.test")
        o.put("plan", if (rnd.nextBoolean()) "pro" else "free")
        o.put("score", rnd.nextInt(10).toLong)
        o
      case "slow" =>
        o.put("id", id)
        o.put("note", s"note ${rnd.alphanumeric.take(8).mkString.toLowerCase(Locale.ROOT)}")
        o
    }
    if (isNovel) payload match {
      case obj: ObjectNode => obj.put(s"x_${prefix}_$seq", seq.toLong)
      case _ => payload.get(0).asInstanceOf[ObjectNode]
          .put(s"x_${prefix}_$seq", seq.toLong)
    }
    Input(seq, shape, mapper.writeValueAsString(payload))
  }
}
