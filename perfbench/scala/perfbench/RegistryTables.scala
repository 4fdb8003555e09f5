package perfbench

import java.time.LocalDateTime
import scala.jdk.CollectionConverters._
import scala.util.Random
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables for the `registry_work` rows, in the column names and
  * types of the registry's own tables (`graft.Tables`): `part`,
  * `documents`, `events` and `lineitem`, each written by Spark as one
  * parquet file under `<dir>/<name>.parquet/`. Timestamps are written
  * without a time zone, as in the registry's reference tables.
  *
  * The shapes give each row real work:
  *  - part names are `[adjective] adjective noun` with a typo in a third
  *    of them, so the blocked fuzzy join finds near-duplicate names;
  *  - documents are sentences over a small vocabulary, a quarter of them
  *    copied from a shared pool, so repeated spans exist to be removed;
  *  - events carry `{"k": n}` props, one in 40 without `k`;
  *  - orders draw most parts from one of 40 themes of 10 parts, so parts
  *    are bought together often enough for co-purchase edges.
  */
object RegistryTables {
  val Parts = 2500
  val Docs = 700
  val Events = 20000
  val Orders = 1200

  val Adjectives: IndexedSeq[String] = IndexedSeq("cold", "small", "large", "blue",
    "red", "green", "heavy", "light", "bright", "dark", "smooth", "rough", "round",
    "square", "thin", "thick", "quiet", "loud", "sharp", "soft", "hard", "wide",
    "narrow", "tall")
  val Nouns: IndexedSeq[String] =
    IndexedSeq("widget", "bolt", "rod", "gear", "valve", "panel", "spring", "bracket")
  val Words: IndexedSeq[String] = ("the a fast slow key order sort table scan merge part " +
    "window small big hash join batch stream spark group query row data filter " +
    "customer line value agg column vector index page cache disk plan stage task " +
    "shuffle").split(" ").toIndexedSeq

  def write(spark: SparkSession, seed: Long, dir: String): Unit = {
    def save(name: String, schema: StructType, rows: Seq[Row]): Unit =
      spark.createDataFrame(rows.asJava, schema).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$name.parquet")
    save("part", partSchema, part(new Random(seed * 4 + 0)))
    save("documents", docSchema, documents(new Random(seed * 4 + 1)))
    save("events", eventSchema, events(new Random(seed * 4 + 2)))
    save("lineitem", lineSchema, lineitem(new Random(seed * 4 + 3)))
  }

  val partSchema: StructType = StructType(Seq(
    StructField("p_partkey", LongType), StructField("p_name", StringType),
    StructField("p_brand", StringType), StructField("p_type", StringType),
    StructField("p_size", IntegerType), StructField("p_retailprice", DoubleType)))

  def typo(r: Random, w: String): String = {
    val i = r.nextInt(w.length)
    val c = ('a' + r.nextInt(26)).toChar
    r.nextInt(3) match {
      case 0 => w.updated(i, c)
      case 1 => w.patch(i, Nil, 1)
      case _ => w.patch(i, Seq(c), 0)
    }
  }

  def part(r: Random): Seq[Row] = (0 until Parts).map { i =>
    val adj = Adjectives(r.nextInt(Adjectives.size))
    val lead = if (r.nextBoolean()) Adjectives(r.nextInt(Adjectives.size)) + " " else ""
    val name = lead + (if (r.nextInt(3) == 0) typo(r, adj) else adj) + " " +
      Nouns(r.nextInt(Nouns.size))
    Row(i.toLong, name, s"Brand#${1 + r.nextInt(25)}",
      Seq("ECONOMY", "PROMO", "LARGE", "STANDARD", "SMALL")(r.nextInt(5)),
      1 + r.nextInt(50), (90000 + i % 1000 * 10) / 100.0)
  }

  val docSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType),
    StructField("n_chars", LongType)))

  def sentence(r: Random): String =
    Seq.fill(5 + r.nextInt(11))(Words(r.nextInt(Words.size))).mkString(" ") +
      Seq(".", "!", "?")(r.nextInt(3))

  def documents(r: Random): Seq[Row] = {
    val pool = IndexedSeq.fill(30)(sentence(r))
    (0 until Docs).map { i =>
      val text = Seq.fill(3 + r.nextInt(6))(
        if (r.nextInt(4) == 0) pool(r.nextInt(pool.size)) else sentence(r)).mkString(" ")
      Row(i.toLong, text, Seq("en", "de", "es", "fr", "zh")(r.nextInt(5)), s"src${i % 5}",
        text.length.toLong)
    }
  }

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampNTZType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  def events(r: Random): Seq[Row] = {
    var ts = LocalDateTime.of(2024, 1, 1, 0, 0)
    (0 until Events).map { i =>
      ts = ts.plusNanos((r.nextInt(600) * 1000000L + r.nextInt(1000000)) * 1000L)
      Row(i.toLong, ts, r.nextInt(200).toLong,
        Seq("signup", "click", "error", "purchase", "view")(r.nextInt(5)),
        r.nextInt(20000) / 100.0,
        if (r.nextInt(40) == 0) "{}" else s"""{"k": ${r.nextInt(100)}}""")
    }
  }

  val lineSchema: StructType = StructType(Seq(
    StructField("l_orderkey", LongType), StructField("l_partkey", LongType),
    StructField("l_suppkey", LongType), StructField("l_linenumber", IntegerType),
    StructField("l_quantity", DoubleType), StructField("l_extendedprice", DoubleType),
    StructField("l_discount", DoubleType), StructField("l_tax", DoubleType),
    StructField("l_returnflag", StringType), StructField("l_linestatus", StringType),
    StructField("l_shipdate", TimestampNTZType)))

  def lineitem(r: Random): Seq[Row] = (0 until Orders).flatMap { o =>
    val theme = r.nextInt(40)
    (1 to 1 + r.nextInt(7)).map { n =>
      val p = if (r.nextInt(5) == 0) r.nextInt(400) else theme * 10 + r.nextInt(10)
      val s = r.nextInt(10)
      val qty = 1 + r.nextInt(50)
      Row(o.toLong, p.toLong, s.toLong, n, qty.toDouble,
        qty * (9000L + p * 7 + s * 37) / 100.0, r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, Seq("A", "N", "R")(r.nextInt(3)), Seq("O", "F")(r.nextInt(2)),
        LocalDateTime.of(1995, 1, 1, 0, 0).plusDays(r.nextInt(2000)))
    }
  }
}
