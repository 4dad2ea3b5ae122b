package graftbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import scala.util.chaining._

/** Seeded input generators. The same seed gives the same tables and the
  * same batches; the program only ever sees these generated inputs.
  * Shapes follow the TPC-H-like sf0.1 tables (150k orders, 15k
  * customers, 25 nations) and the 5k-document / 2k-vector corpus. */
object Gen {
  val Orders = 150000L
  val Customers = 15000L
  val Nations = 25
  val Segments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  val Statuses: Seq[String] = Seq("O", "F", "P")
  val Done = "DONE"
  /** Hour 0 of the ETL's clock; cycle `c` stages its batch at hour c. */
  val HourZeroS = 1767225600L // 2026-01-01T00:00:00Z

  def mix(seed: Long, salt: Long, x: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + salt * 0xBF58476D1CE4E5B9L + x
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, salt: Int, c: Column): Column =
    xxhash64(lit(seed), lit(salt), c)
  private def cents(c: Column): Column =
    (c.cast("decimal(18,2)") / lit(100)).cast("decimal(18,2)")

  /** Order prices in cents: uniform over [PriceFloor, PriceCap], except
    * that one order in a hundred sits exactly at the floor and one at the
    * cap (a price list's bounds). The ties put many rows on every market
    * segment's min and max, so every hourly batch and every dim UPDATE
    * retracts some group's extremum and each view REFRESH takes the
    * extremum-recompute road. With untied prices whether an hour touched
    * the one row holding a group's min or max was a coin flip (about 20
    * Spark jobs against about 45 per refresh), and the timings of a run
    * followed it. */
  val PriceFloor = 90000L
  val PriceSpan = 45000000L
  val PriceCap: Long = PriceFloor + PriceSpan - 1
  private def tiedPrice(tie: Column, u: Column): Column =
    when(tie === 0, lit(PriceFloor)).when(tie === 99, lit(PriceCap))
      .otherwise(u + lit(PriceFloor))

  /** Mart seed: the orders whose key is not a multiple of 3 (two thirds);
    * the other third is the pool the hourly batches insert from. */
  def martSeed(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0L, Orders, 1L, 4).where(col("id") % 3 =!= 0).select(
      col("id").as("o_orderkey"),
      pmod(h(seed, 1, col("id")), lit(Customers)).as("o_custkey"),
      element_at(typedLit(Statuses),
        (pmod(h(seed, 2, col("id")), lit(3L)) + 1).cast("int")).as("o_orderstatus"),
      cents(tiedPrice(pmod(h(seed, 8, col("id")), lit(100L)),
        pmod(h(seed, 3, col("id")), lit(PriceSpan)))).as("o_totalprice"),
      timestamp_seconds(lit(HourZeroS - 3L * 365 * 86400) +
        pmod(h(seed, 4, col("id")), lit(3L * 365 * 86400))).as("created_at"))
      .withColumn("updated_at", col("created_at"))
      .withColumn("deleted_at", lit(null).cast("timestamp"))

  def customers(spark: SparkSession, seed: Long): DataFrame =
    spark.range(0L, Customers, 1L, 2).select(
      col("id").as("c_custkey"),
      concat(lit("Customer#"), lpad(col("id").cast("string"), 9, "0")).as("c_name"),
      pmod(h(seed, 5, col("id")), lit(Nations.toLong)).cast("int").as("c_nationkey"),
      cents(pmod(h(seed, 6, col("id")), lit(1100000L)) - lit(100000L)).as("c_acctbal"),
      element_at(typedLit(Segments),
        (pmod(h(seed, 7, col("id")), lit(5L)) + 1).cast("int")).as("c_mktsegment"))

  def nations(spark: SparkSession): DataFrame =
    spark.range(0L, Nations.toLong, 1L, 1).select(
      col("id").cast("int").as("n_nationkey"),
      concat(lit("NATION_"), col("id").cast("string")).as("n_name"),
      (col("id") % 5).cast("int").as("n_regionkey"))

  val StagingSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType, nullable = false),
    StructField("o_custkey", LongType, nullable = false),
    StructField("o_orderstatus", StringType, nullable = false),
    StructField("o_totalprice", DecimalType(18, 2), nullable = false),
    StructField("created_at", TimestampType, nullable = true),
    StructField("updated_at", TimestampType, nullable = false)))

  /** The hourly batch generator: one instance per table lineage, fed
    * cycles in order. A batch is 1.8–2.2% of the seeded mart: ~40% new keys
    * from the pool, ~45% status/price changes of existing keys (half of
    * them carry a created_at the merge must ignore), ~15% `DONE` rows
    * that soft-delete; changed keys are drawn uniformly over every key
    * that exists; prices as in [[martSeed]], ties at floor and cap
    * included. Keys are distinct within a batch. The split and the
    * uniform key choice are assumptions, not measured traffic: no staging
    * data of the reference DAG is in the repository to derive them from. */
  final class Batches(seed: Long) {
    private var nextNew = 0L // next pool key (multiples of 3, ascending)
    private val martRows = Orders - Orders / 3

    private def exists(k: Long): Boolean =
      (k < Orders && k % 3 != 0) || (k % 3 == 0 && k < nextNew)

    def rows(cycle: Int): Seq[Row] = {
      val rng = new java.util.Random(mix(seed, 11, cycle.toLong))
      val n = (martRows * (0.018 + 0.004 * rng.nextDouble())).toInt
      val hour = new java.sql.Timestamp((HourZeroS + cycle * 3600L) * 1000L)
      val seen = scala.collection.mutable.HashSet.empty[Long]
      def existing(): Long = {
        var k = -1L
        while (k < 0 || !exists(k) || seen(k)) {
          val bound = math.max(Orders, nextNew)
          k = (rng.nextDouble() * bound).toLong
        }
        seen += k
        k
      }
      def price(): java.math.BigDecimal = {
        val (tie, u) = (rng.nextInt(100), rng.nextInt(PriceSpan.toInt))
        val c = if (tie == 0) PriceFloor else if (tie == 99) PriceCap else PriceFloor + u
        java.math.BigDecimal.valueOf(c, 2)
      }
      (0 until n).map { i =>
        val r = rng.nextDouble()
        if (r < 0.40) {
          val k = nextNew
          nextNew += 3
          seen += k
          Row(k, java.lang.Math.floorMod(mix(seed, 1, k), Customers),
            Statuses(rng.nextInt(3)), price(),
            new java.sql.Timestamp(hour.getTime - rng.nextInt(3600) * 1000L), hour)
        } else {
          val k = existing()
          val status = if (r < 0.85) Statuses(rng.nextInt(3)) else Done
          val created =
            if (rng.nextBoolean()) new java.sql.Timestamp(hour.getTime - 86400000L)
            else null
          Row(k, java.lang.Math.floorMod(mix(seed, 1, k), Customers), status,
            price(), created, hour)
        }
      }
    }
  }

  /** The hourly MERGE: incremental upsert with soft delete. `created_at`
    * keeps the first value seen; `deleted_at` is set by the first `DONE`
    * and kept after. */
  def mergeSql(mart: String, src: String): String =
    s"""MERGE INTO `$mart` AS t USING $src AS s
       |ON t.o_orderkey = s.o_orderkey
       |WHEN MATCHED THEN UPDATE SET
       |  o_orderstatus = s.o_orderstatus,
       |  o_totalprice = s.o_totalprice,
       |  created_at = coalesce(t.created_at, s.created_at),
       |  updated_at = s.updated_at,
       |  deleted_at = coalesce(t.deleted_at,
       |    CASE WHEN s.o_orderstatus = '$Done' THEN s.updated_at END)
       |WHEN NOT MATCHED THEN INSERT
       |  (o_orderkey, o_custkey, o_orderstatus, o_totalprice, created_at,
       |   updated_at, deleted_at)
       |  VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, s.o_totalprice,
       |   coalesce(s.created_at, s.updated_at), s.updated_at,
       |   CASE WHEN s.o_orderstatus = '$Done' THEN s.updated_at END)""".stripMargin

  /** The plain relational restatement of seed + batches 1..k, for each
    * `k` of `hours`, in one pass: per key the first row's customer and
    * created_at, the last row's status, price and updated_at, and the
    * first `DONE`'s time as deleted_at. Column `m<k>` holds the row after
    * hour k (null while the key does not exist yet); [[martAt]] reads one
    * out. */
  def martExpected(seedRows: DataFrame, batches: Seq[(Int, DataFrame)],
      hours: Seq[Int]): DataFrame = {
    val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "created_at", "updated_at").map(col)
    val all = batches.foldLeft(seedRows.select(cols :+ lit(0).as("b"): _*)) {
      case (acc, (c, df)) => acc.unionByName(df.select(cols :+ lit(c).as("b"): _*))
    }
    val first = struct(col("o_custkey"),
      coalesce(col("created_at"), col("updated_at")).as("created_at"))
    val last = struct(col("o_orderstatus"), col("o_totalprice"), col("updated_at"))
    val perHour = hours.distinct.map { k =>
      val upTo = when(col("b") <= k, col("b"))
      struct(min_by(first, upTo).as("first"), max_by(last, upTo).as("last"),
        min(when(col("b") <= k && col("o_orderstatus") === Done, col("updated_at")))
          .as("deleted_at")).as(s"m$k")
    }
    all.groupBy(col("o_orderkey")).agg(perHour.head, perHour.tail: _*)
  }

  /** Hour `k`'s mart out of [[martExpected]]'s frame. */
  def martAt(restated: DataFrame, k: Int): DataFrame =
    restated.where(col(s"m$k.first").isNotNull).select(col("o_orderkey"),
      col(s"m$k.first.o_custkey").as("o_custkey"),
      col(s"m$k.last.o_orderstatus").as("o_orderstatus"),
      col(s"m$k.last.o_totalprice").as("o_totalprice"),
      col(s"m$k.first.created_at").as("created_at"),
      col(s"m$k.last.updated_at").as("updated_at"),
      col(s"m$k.deleted_at").as("deleted_at"))

  /** The `j`-th dim UPDATE: one sixtieth of the customers move to the
    * next market segment. */
  def rotateSegment(c: Column): Column =
    Segments.indices.foldLeft(c) { (acc, i) =>
      when(c === Segments(i), lit(Segments((i + 1) % Segments.size))).otherwise(acc)
    }
  def dimUpdateSql(dim: String, j: Int): String = {
    val cases = Segments.indices.map(i =>
      s"WHEN '${Segments(i)}' THEN '${Segments((i + 1) % Segments.size)}'").mkString(" ")
    s"UPDATE `$dim` SET c_mktsegment = CASE c_mktsegment $cases END " +
      s"WHERE c_custkey % 60 = ${j % 60}"
  }
  def dimExpected(base: DataFrame, updates: Seq[Int]): DataFrame =
    updates.foldLeft(base) { (df, j) =>
      df.withColumn("c_mktsegment",
        when(col("c_custkey") % 60 === j % 60, rotateSegment(col("c_mktsegment")))
          .otherwise(col("c_mktsegment")))
    }

  // ---- corpus ---------------------------------------------------------------

  private val Words = Seq("batch", "part", "spark", "line", "column", "order",
    "small", "sort", "fast", "value", "scan", "hash", "slow", "group", "agg",
    "filter", "query", "big", "key", "window", "row", "table", "stream", "merge",
    "data", "vector", "join", "index", "shuffle", "plan", "cache", "commit",
    "file", "page", "node", "task", "stage", "job", "log", "view")
  private val Stop = Seq("the", "a", "of", "and", "to", "in", "is", "it")
  private val Langs = Seq("en", "de", "fr", "zh", "es")

  /** Base corpus: `n` documents of 5–80 words; ~2% exact copies and ~8%
    * one-to-three-word edits of an earlier original document, so each
    * duplicate cluster is an original with its variants (a near-clique,
    * the shape near-dup graphs have). */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.Random(mix(seed, 21, 0))
    val originals = new Array[String](n)
    var nOrig = 0
    val rows = (0 until n).map { i =>
      val r = rng.nextDouble()
      val text =
        if (nOrig > 10 && r < 0.02) originals(rng.nextInt(nOrig))
        else if (nOrig > 10 && r < 0.10) {
          val ws = originals(rng.nextInt(nOrig)).split(' ')
          (1 to 1 + rng.nextInt(3)).foreach(_ =>
            ws(rng.nextInt(ws.length)) = Words(rng.nextInt(Words.size)))
          ws.mkString(" ")
        } else {
          val len = 5 + rng.nextInt(76)
          val stopRate = 0.05 + 0.3 * rng.nextDouble()
          (0 until len).map(_ =>
            if (rng.nextDouble() < stopRate) Stop(rng.nextInt(Stop.size))
            else Words(rng.nextInt(Words.size))).mkString(" ")
            .tap { t => originals(nOrig) = t; nOrig += 1 }
        }
      Row(i.toLong, text, Langs(rng.nextInt(Langs.size)),
        "src" + rng.nextInt(20), text.length.toLong)
    }
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** Base embeddings: `n` 64-dim Gaussian vectors (near-orthogonal, as in
    * the sf0.1 table); ~10% are noisy copies of an earlier original
    * (cosine ~0.9, the semantic duplicates). */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val rng = new java.util.Random(mix(seed, 22, 0))
    val originals = new Array[Array[Float]](n)
    var nOrig = 0
    val rows = (0 until n).map { i =>
      val v =
        if (nOrig > 10 && rng.nextDouble() < 0.10)
          originals(rng.nextInt(nOrig)).map(x => (x + 0.5 * rng.nextGaussian()).toFloat)
        else {
          val o = Array.fill(64)(rng.nextGaussian().toFloat)
          originals(nOrig) = o
          nOrig += 1
          o
        }
      Row(i.toLong, v.toSeq, rng.nextInt(10))
    }
    val schema = StructType(Seq(
      StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType, containsNull = false)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  val IdStride = 1000000000L

  /** k-fold replication, ScaleData's deterministic recipe: replica `k`
    * shifts ids by a stride and Caesar-rotates the letters by `k`, so
    * word lengths, duplicates and shingle frequencies repeat within a
    * replica while replicas share almost no shingles. */
  def replicateDocs(d: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val lo = ('a' to 'z').mkString
      val s = k % 26
      d.select((col("doc_id") + lit(k * IdStride)).as("doc_id"),
        translate(col("text"), lo, lo.drop(s) + lo.take(s)).as("text"),
        col("lang"), col("source"), col("n_chars"))
    }.reduce(_ union _)

  /** Replica `k` of the vectors: a coordinate permutation (i -> i·5^k mod
    * 64) with hash-derived sign flips — orthogonal, so every
    * within-replica cosine is kept exactly. */
  def replicateEmbeddings(e: DataFrame, factor: Int): DataFrame =
    (0 until factor).map { k =>
      val dims = 64
      val mult = Iterator.iterate(1L)(m => (m * 5) % dims).drop(k).next()
      val rotated = (0 until dims).map { i =>
        val src = ((i * mult) % dims).toInt
        val hh = (src * 2654435761L + k.toLong * 40503L) >>> 16
        val sign = if (k > 0 && (hh & 1L) == 1L) -1.0f else 1.0f
        (element_at(col("embedding"), src + 1) * lit(sign)).cast("float")
      }
      e.select((col("vec_id") + lit(k * IdStride)).as("vec_id"),
        array(rotated: _*).as("embedding"), col("label"))
    }.reduce(_ union _)
}
