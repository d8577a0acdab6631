package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.Instant

import org.apache.avro.Schema
import org.apache.avro.generic.{GenericData, GenericRecord}

/** Seeded event source for the event-path workloads: Avro payloads of
  * roughly 100-300 bytes, Zipf-skewed user keys, one or two user metadata
  * entries, and one of a few AEAD key URIs per append batch. The same seed
  * and batch index give the same events. */
object EventGen {
  val Topic = "bench_events"
  val SchemaId = 7
  val KeyUris: IndexedSeq[String] = (0 until 3).map(i => s"in-memory://perfbench/key-$i")

  val schema: Schema = new Schema.Parser().parse(
    """{"type":"record","name":"PageAction","namespace":"perfbench",
      | "fields":[
      |  {"name":"user","type":"string"},
      |  {"name":"action","type":"string"},
      |  {"name":"amount","type":"double"},
      |  {"name":"items","type":{"type":"array","items":"string"}},
      |  {"name":"note","type":"string"}]}""".stripMargin)

  private val actions = Array("view", "click", "add_to_cart", "purchase", "search", "logout")
  private val words = ("alpha beta gamma delta event store spark stream kafka replica " +
    "offset cursor commit ledger order item basket price coupon").split(' ')
  private val sources = Array("web", "mobile", "api", "batch")

  final case class Gen(key: Array[Byte], record: GenericRecord, ts: Instant,
      metadata: Map[String, Array[Byte]]) {
    /** The JSON the consumer decodes back (GenericRecord's rendering). */
    def json: String = record.toString
  }

  /** Cumulative Zipf(s) over `n` ranks for inverse-CDF sampling. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { x => acc += x / tot; acc }
    }
    def sample(r: java.util.SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  private val zipf = new Zipf(10000, 1.1)

  /** Batch `batch` of `n` events for `seed`; `seq0` numbers the events for
    * timestamps so every event of a run has a distinct, ordered time. */
  def batch(seed: Long, batch: Int, n: Int, seq0: Long): IndexedSeq[Gen] = {
    val r = new java.util.SplittableRandom(seed * 1000003L + batch)
    val t0 = Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    (0 until n).map { i =>
      val user = zipf.sample(r)
      val rec = new GenericData.Record(schema)
      rec.put("user", s"user-$user")
      rec.put("action", actions(r.nextInt(actions.length)))
      rec.put("amount", math.round(r.nextDouble() * 50000) / 100.0)
      val items = new java.util.ArrayList[String]()
      (0 until r.nextInt(1, 5)).foreach(_ => items.add(s"sku-${r.nextInt(100000)}"))
      rec.put("items", items)
      rec.put("note", (0 until r.nextInt(4, 28)).map(_ => words(r.nextInt(words.length))).mkString(" "))
      val md = Map("source" -> sources(r.nextInt(sources.length)).getBytes(UTF_8)) ++
        (if (r.nextInt(2) == 0) Map("trace" -> f"${r.nextLong()}%016x".getBytes(UTF_8)) else Map.empty)
      Gen(s"user-$user".getBytes(UTF_8), rec,
        Instant.ofEpochMilli(t0 + (seq0 + i) * 997L + r.nextInt(997)), md)
    }
  }

  def keyUriFor(seed: Long, batch: Int): String =
    KeyUris(new java.util.SplittableRandom(seed * 31L + batch).nextInt(KeyUris.length))

  /** Order-insensitive digest of (key, payload, timestamp, metadata): the
    * sum of a 64-bit hash per event, so two multisets of events agree iff
    * (with overwhelming probability) they hold the same events. */
  def eventHash(key: Array[Byte], json: String, tsMillis: Long,
      metadata: Map[String, Array[Byte]]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def field(b: Array[Byte]): Unit = {
      md.update(java.nio.ByteBuffer.allocate(4).putInt(b.length).array()); md.update(b)
    }
    field(key)
    field(json.getBytes(UTF_8))
    field(java.nio.ByteBuffer.allocate(8).putLong(tsMillis).array())
    metadata.toSeq.sortBy(_._1).foreach { case (k, v) => field(k.getBytes(UTF_8)); field(v) }
    java.nio.ByteBuffer.wrap(md.digest(), 0, 8).getLong
  }

  def expectedHash(g: Gen, keyUri: String): Long =
    eventHash(g.key, g.json, g.ts.toEpochMilli, g.metadata + ("kid" -> keyUri.getBytes(UTF_8)))
}
