package perfbench

import java.sql.Timestamp
import java.util.SplittableRandom

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Deterministic generator of the ten registry tables (region, nation,
  * customer, supplier, part, orders, lineitem, events, documents,
  * embeddings) with the schemas and value ranges the registry queries
  * expect, at the size of the smallest test scale (6 000 lineitems,
  * 500 documents, 500 embeddings).
  *
  * The data seed is fixed: the expected result of every served query is
  * kept beside the benchmark, so the tables must not change between runs.
  * A tenth of the documents are edited copies of earlier ones, so the
  * dedup queries have near-duplicates to find.
  */
object DataGen {
  /** Bump when the generated tables change; expected results must then be
    * recorded again (see README). */
  val version = "v1"
  private val dataSeed = 20240101L

  private val vocab = Seq("row", "the", "query", "stream", "key", "agg", "scan", "slow",
    "table", "part", "a", "merge", "window", "order", "column", "join", "vector", "value",
    "hash", "batch", "sort", "data", "big", "filter", "dup", "fast", "spark", "line",
    "small", "customer", "group")
  private val langs = Seq("en", "en", "en", "zh", "de", "es", "fr")
  private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val partTypes = Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val adjectives = Seq("small", "large", "red", "blue", "hot", "old", "cold", "green")
  private val nouns = Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring")
  private val eventTypes = Seq("click", "view", "purchase", "signup", "error")
  private val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")

  private val nCustomer = 150
  private val nSupplier = 10
  private val nPart = 200
  private val nOrders = 1500
  private val nLineitem = 6000
  private val nEvents = 1000
  private val nUsers = 100
  private val nDocuments = 500
  private val nEmbeddings = 500
  private val dim = 64

  private val day = 86400000L
  private val epoch1995 = Timestamp.valueOf("1995-01-01 00:00:00").getTime
  private val epoch2024 = Timestamp.valueOf("2024-01-01 00:00:00").getTime

  private def money(r: SplittableRandom, lo: Double, hi: Double): Double =
    math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  private def pick[A](r: SplittableRandom, xs: Seq[A]): A = xs(r.nextInt(xs.size))

  private def gaussian(r: SplittableRandom): Double = {
    // Box-Muller; SplittableRandom has no nextGaussian
    val u = 1.0 - r.nextDouble()
    val v = r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * v)
  }

  /** Table name -> (schema, rows). */
  def tables: Seq[(String, StructType, Seq[Row])] = {
    val r = new SplittableRandom(dataSeed)
    val region = (0 until 5).map(i => Row(i, regions(i)))
    val nation = (0 until 25).map(i => Row(i, s"NATION_$i", i % 5))
    val customer = (0 until nCustomer).map { i =>
      Row(i.toLong, f"Customer#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99), pick(r, segments))
    }
    val supplier = (0 until nSupplier).map { i =>
      Row(i.toLong, f"Supplier#$i%09d", r.nextInt(25), money(r, -999.99, 9999.99))
    }
    val part = (0 until nPart).map { i =>
      Row(i.toLong, s"${pick(r, adjectives)} ${pick(r, nouns)}", s"Brand#${1 + r.nextInt(25)}",
        pick(r, partTypes), 1 + r.nextInt(50), math.round((900 + (i % 1000) * 0.1) * 10) / 10.0)
    }
    val orders = (0 until nOrders).map { i =>
      Row(i.toLong, r.nextInt(nCustomer).toLong, pick(r, Seq("F", "O", "P")),
        money(r, 1000, 500000), new Timestamp(epoch1995 + r.nextInt(2404) * day),
        pick(r, priorities))
    }
    val lineitem = (0 until nLineitem).map { _ =>
      val qty = (1 + r.nextInt(50)).toDouble
      Row(r.nextInt(nOrders).toLong, r.nextInt(nPart).toLong, r.nextInt(nSupplier).toLong,
        1 + r.nextInt(7), qty, money(r, 900, 105000), r.nextInt(11) / 100.0,
        r.nextInt(9) / 100.0, pick(r, Seq("A", "N", "R")), pick(r, Seq("F", "O")),
        new Timestamp(epoch1995 + (1 + r.nextInt(2498)) * day))
    }
    val events = (0 until nEvents).map { i =>
      val ts = new Timestamp(epoch2024 + (i.toLong * 30 * day / nEvents) + r.nextInt(60000))
      ts.setNanos(ts.getNanos + r.nextInt(1000) * 1000)
      Row(i.toLong, ts, r.nextInt(nUsers).toLong, pick(r, eventTypes),
        math.max(0.01, math.round(-50 * math.log(1 - r.nextDouble()) * 100) / 100.0),
        s"""{"k": ${r.nextInt(100)}}""")
    }
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    val documents = (0 until nDocuments).map { i =>
      val text =
        if (i >= 20 && r.nextInt(10) == 0) {
          // edited copy of an earlier document: a few words replaced
          val words = texts(r.nextInt(texts.size)).split(" ")
          (0 until 1 + r.nextInt(3)).foreach(_ => words(r.nextInt(words.length)) = pick(r, vocab))
          words.mkString(" ")
        } else Seq.fill(20 + r.nextInt(71))(pick(r, vocab)).mkString(" ")
      texts += text
      Row(i.toLong, text, pick(r, langs), s"src${i % 20}", text.length.toLong)
    }
    val centers = Array.fill(10, dim)(gaussian(r))
    val embeddings = (0 until nEmbeddings).map { i =>
      val label = r.nextInt(10)
      val v = Array.tabulate(dim)(d => centers(label)(d) + 0.8 * gaussian(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq, label)
    }
    val ts = TimestampType
    def s(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    Seq(
      ("region", s("r_regionkey" -> IntegerType, "r_name" -> StringType), region),
      ("nation", s("n_nationkey" -> IntegerType, "n_name" -> StringType,
        "n_regionkey" -> IntegerType), nation),
      ("customer", s("c_custkey" -> LongType, "c_name" -> StringType,
        "c_nationkey" -> IntegerType, "c_acctbal" -> DoubleType,
        "c_mktsegment" -> StringType), customer),
      ("supplier", s("s_suppkey" -> LongType, "s_name" -> StringType,
        "s_nationkey" -> IntegerType, "s_acctbal" -> DoubleType), supplier),
      ("part", s("p_partkey" -> LongType, "p_name" -> StringType, "p_brand" -> StringType,
        "p_type" -> StringType, "p_size" -> IntegerType, "p_retailprice" -> DoubleType), part),
      ("orders", s("o_orderkey" -> LongType, "o_custkey" -> LongType,
        "o_orderstatus" -> StringType, "o_totalprice" -> DoubleType, "o_orderdate" -> ts,
        "o_orderpriority" -> StringType), orders),
      ("lineitem", s("l_orderkey" -> LongType, "l_partkey" -> LongType,
        "l_suppkey" -> LongType, "l_linenumber" -> IntegerType, "l_quantity" -> DoubleType,
        "l_extendedprice" -> DoubleType, "l_discount" -> DoubleType, "l_tax" -> DoubleType,
        "l_returnflag" -> StringType, "l_linestatus" -> StringType, "l_shipdate" -> ts),
        lineitem),
      ("events", s("event_id" -> LongType, "ts" -> ts, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", s("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents),
      ("embeddings", s("vec_id" -> LongType, "embedding" -> ArrayType(FloatType),
        "label" -> IntegerType), embeddings))
  }

  /** Write every table as `<dir>/<name>.parquet` unless `dir` already holds
    * a complete copy (marked by a `_COMPLETE` file written last). */
  def ensure(spark: SparkSession, dir: java.nio.file.Path): Unit = {
    val done = dir.resolve("_COMPLETE")
    if (java.nio.file.Files.exists(done)) return
    Fs.deleteTree(dir)
    tables.foreach { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
    }
    java.nio.file.Files.write(done, Array.emptyByteArray)
  }
}
