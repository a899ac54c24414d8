package graft.perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.LocalDateTime
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** The benchmark's own corpus: the ten tables of the library's parquet
  * contract (FIXTURES.md §B) with the same column names, physical types
  * (timestamps as TIMESTAMP_NTZ micros) and value distributions, at about
  * a thirtieth of the sf0.1 row counts (documents and embeddings: a
  * fifth and a half).
  *
  * The corpus is a pure function of [[CorpusSeed]], not of the run's seed:
  * the batch workloads' golden digests are recorded over exactly these
  * rows. The run's seed only orders operations and, in the index and
  * streaming workloads, picks search terms, query vectors, mutation
  * batches and event streams.
  *
  * The corpus is input, not work of the library: `perfbench/run.py`
  * generates it once per version of this file, through [[GenerateCorpus]]
  * in a JVM of its own, before the measured JVM starts. */
object Fixtures {

  val CorpusSeed = 42L
  val Customers = 500
  val Suppliers = 50
  val Parts = 700
  val Orders = 5000
  val Events = 5000
  val Users = 75
  val Documents = 1000
  val Embeddings = 1000
  val Dim = 64

  /** The document vocabulary of the library's corpus ("dup" marks the
    * near-duplicates, as there). */
  val Vocab: IndexedSeq[String] = IndexedSeq("spark", "window", "merge", "table",
    "column", "vector", "stream", "value", "data", "small", "join", "filter",
    "big", "group", "hash", "customer", "sort", "order", "slow", "line",
    "part", "fast", "row", "the", "agg", "key", "query", "a", "scan", "batch")

  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
  private val segments = Seq("MACHINERY", "AUTOMOBILE", "BUILDING", "HOUSEHOLD", "FURNITURE")
  private val adjectives = Seq("blue", "hot", "small", "old", "red", "new", "cold", "large")
  private val nouns = Seq("bolt", "gear", "anvil", "ring", "rod", "widget", "plate", "gizmo")
  private val partTypes = Seq("ECONOMY", "STANDARD", "LARGE", "PROMO", "SMALL", "MEDIUM")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val langs = Seq("en", "en", "en", "en", "fr", "fr", "es", "es", "de", "zh", "zh")

  private def pick[T](r: SplittableRandom, xs: Seq[T]): T = xs(r.nextInt(xs.size))
  private def cents(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def schema(fields: (String, DataType)*): StructType =
    StructType(fields.map { case (n, t) => StructField(n, t) })

  /** One document text: 10–100 words, or a near-duplicate (an earlier
    * document's text with " dup" appended) for one document in twenty. */
  def docText(r: SplittableRandom, id: Int, earlier: Int => String): String =
    if (id > 20 && r.nextInt(20) == 0) earlier(r.nextInt(id)) + " dup"
    else Seq.fill(10 + r.nextInt(91))(pick(r, Vocab)).mkString(" ")

  /** A unit vector of [[Dim]] gaussian components. */
  def unitVector(r: SplittableRandom): Array[Float] = {
    val v = Array.fill(Dim) {
      // Box-Muller: SplittableRandom has no nextGaussian
      math.sqrt(-2 * math.log(1 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
    }
    val n = math.sqrt(v.map(x => x * x).sum)
    v.map(x => (x / n).toFloat)
  }

  /** Writes the corpus to `dir` unless an earlier run already did. */
  def ensure(spark: SparkSession, dir: String): Unit =
    if (!Files.exists(Paths.get(dir, "_DONE"))) {
      val tmp = s"$dir.tmp${ProcessHandle.current().pid()}"
      write(spark, tmp)
      Files.createFile(Paths.get(tmp, "_DONE"))
      Files.move(Paths.get(tmp), Paths.get(dir), StandardCopyOption.ATOMIC_MOVE)
    }

  /** Writes every table as `dir/<name>.parquet` (two files each). */
  def write(spark: SparkSession, dir: String): Unit = {
    val r = new SplittableRandom(CorpusSeed)
    def save(name: String, s: StructType, data: Seq[Row]): Unit =
      spark.createDataFrame(spark.sparkContext.parallelize(data, 2), s)
        .write.parquet(s"$dir/$name.parquet")
    val day0 = LocalDateTime.of(1995, 1, 1, 0, 0)

    save("region", schema("r_regionkey" -> IntegerType, "r_name" -> StringType),
      regions.zipWithIndex.map { case (n, i) => Row(i, n) })
    save("nation", schema("n_nationkey" -> IntegerType, "n_name" -> StringType,
      "n_regionkey" -> IntegerType),
      (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
    save("customer", schema("c_custkey" -> LongType, "c_name" -> StringType,
      "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType, "c_mktsegment" -> StringType),
      (0 until Customers).map(i => Row(i.toLong, f"Customer#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99), pick(r, segments))))
    save("supplier", schema("s_suppkey" -> LongType, "s_name" -> StringType,
      "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType),
      (0 until Suppliers).map(i => Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25),
        cents(r, -999.99, 9999.99))))
    save("part", schema("p_partkey" -> LongType, "p_name" -> StringType,
      "p_brand" -> StringType, "p_type" -> StringType, "p_size" -> IntegerType,
      "p_retailprice" -> DoubleType),
      (0 until Parts).map(i => Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}",
        s"Brand#${1 + r.nextInt(25)}", pick(r, partTypes), 1 + r.nextInt(50),
        900.0 + (i % 1000) / 10.0)))

    val orderDates = Array.fill(Orders)(day0.plusDays(r.nextInt(2404).toLong))
    save("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType,
      "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType,
      "o_orderdate" -> TimestampNTZType, "o_orderpriority" -> StringType),
      (0 until Orders).map(i => Row(i.toLong, r.nextInt(Customers).toLong,
        pick(r, Seq("F", "O", "P")), cents(r, 1000, 500000), orderDates(i),
        pick(r, priorities))))
    save("lineitem", schema("l_orderkey" -> LongType, "l_partkey" -> LongType,
      "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
      "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
      "l_returnflag" -> StringType, "l_linestatus" -> StringType,
      "l_shipdate" -> TimestampNTZType),
      (0 until Orders).flatMap { o =>
        val lines = 1 + r.nextInt(4) + r.nextInt(4)
        (1 to lines).map(ln => Row(o.toLong, r.nextInt(Parts).toLong,
          r.nextInt(Suppliers).toLong, ln, (1 + r.nextInt(50)).toDouble,
          cents(r, 900, 105000), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          pick(r, Seq("A", "N", "R")), pick(r, Seq("O", "F")),
          orderDates(o).plusDays(1L + r.nextInt(121))))
      })

    val ev0 = LocalDateTime.of(2024, 1, 1, 0, 0)
    val evTimes = Array.fill(Events)(r.nextLong(30L * 86400L * 1000000L)).sorted
    save("events", schema("event_id" -> LongType, "ts" -> TimestampNTZType,
      "user_id" -> LongType, "event_type" -> StringType, "value" -> DoubleType,
      "props" -> StringType),
      (0 until Events).map(i => Row(i.toLong, ev0.plusNanos(evTimes(i) * 1000L),
        r.nextInt(Users).toLong, pick(r, eventTypes), cents(r, 0.01, 500),
        s"""{"k": ${r.nextInt(100)}}""")))

    val texts = new Array[String](Documents)
    (0 until Documents).foreach(i => texts(i) = docText(r, i, texts(_)))
    save("documents", schema("doc_id" -> LongType, "text" -> StringType,
      "lang" -> StringType, "source" -> StringType, "n_chars" -> LongType),
      (0 until Documents).map(i => Row(i.toLong, texts(i), pick(r, langs),
        s"src${i % 20}", texts(i).length.toLong)))
    save("embeddings", schema("vec_id" -> LongType,
      "embedding" -> ArrayType(FloatType), "label" -> IntegerType),
      (0 until Embeddings).map(i => Row(i.toLong, unitVector(r).toSeq, r.nextInt(10))))
  }
}

/** `GenerateCorpus <dir> <scratch>`: writes the corpus to `dir` unless it is
  * there, using `scratch` for Spark's temporary files. */
object GenerateCorpus {
  def main(args: Array[String]): Unit = {
    val Array(dir, scratch) = args
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", scratch)
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .getOrCreate()
    try Fixtures.ensure(spark, dir) finally spark.stop()
  }
}
