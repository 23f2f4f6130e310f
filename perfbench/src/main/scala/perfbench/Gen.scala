package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.expr

import java.nio.charset.StandardCharsets
import java.util.SplittableRandom

/** The benchmark's seeded input generator. Every input the library receives
  * is a pure function of a seed: the same seed gives byte-identical CSV
  * uploads, key lists, planted duplicates and queries.
  *
  * Base tables use the fixed [[BaseSeed]], so every run measures the same
  * table sizes and shapes; the workload seed varies everything a run feeds
  * into them. Base columns are closed-form arithmetic over the row id, so
  * the workloads can derive expected results without asking the library.
  */
object Gen {

  val BaseSeed = 42L

  /** Lines per order in the generated `lineitem`. */
  val LinesPerOrder = 4

  /** Row counts of the TPC-H-shaped star tables at scale `sf`. */
  final case class StarSizes(sf: Double) {
    val orders: Long = math.max(40L, (150000 * sf).toLong)
    val customer: Long = math.max(10L, (15000 * sf).toLong)
    val part: Long = math.max(10L, (20000 * sf).toLong)
    val supplier: Long = math.max(5L, (1000 * sf).toLong)
  }

  val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** Quantity of line `(orderkey, linenumber)` as first generated: 1..50. */
  def baseQuantity(orderkey: Long, linenumber: Int): Int =
    ((orderkey * 31 + linenumber * 7) % 50).toInt + 1

  private def quantitySql(ok: String, ln: String) = s"CAST(($ok * 31 + $ln * 7) % 50 + 1 AS DOUBLE)"

  /** The star tables as Spark frames (region, nation, customer, supplier,
    * part, orders, lineitem), keys 1-based as in TPC-H.
    */
  def starTables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    val n = StarSizes(sf)
    def range(rows: Long) = spark.range(1, rows + 1)
    val region = range(5).selectExpr(
      "CAST(id - 1 AS INT) AS r_regionkey", "concat('REGION', CAST(id - 1 AS STRING)) AS r_name")
    val nation = range(25).selectExpr(
      "CAST(id - 1 AS INT) AS n_nationkey", "concat('NATION', CAST(id - 1 AS STRING)) AS n_name",
      "CAST((id - 1) % 5 AS INT) AS n_regionkey")
    val customer = range(n.customer).selectExpr(
      "id AS c_custkey", "concat('Customer#', lpad(CAST(id AS STRING), 9, '0')) AS c_name",
      "CAST(id % 25 AS INT) AS c_nationkey", "CAST((id * 7919) % 1000000 AS DOUBLE) / 100 AS c_acctbal",
      "element_at(array('AUTOMOBILE','BUILDING','FURNITURE','HOUSEHOLD','MACHINERY'), CAST(id % 5 AS INT) + 1) AS c_mktsegment")
    val supplier = range(n.supplier).selectExpr(
      "id AS s_suppkey", "concat('Supplier#', lpad(CAST(id AS STRING), 9, '0')) AS s_name",
      "CAST(id % 25 AS INT) AS s_nationkey", "CAST((id * 104729) % 1000000 AS DOUBLE) / 100 AS s_acctbal")
    val part = range(n.part).selectExpr(
      "id AS p_partkey", "concat('part ', CAST(id AS STRING)) AS p_name",
      "concat('Brand#', CAST(id % 5 + 1 AS STRING), CAST(id % 5 + 1 AS STRING)) AS p_brand",
      "element_at(array('STANDARD','SMALL','MEDIUM','LARGE','ECONOMY'), CAST(id % 5 AS INT) + 1) AS p_type",
      "CAST(id % 50 + 1 AS INT) AS p_size", "CAST(900 + id % 200 AS DOUBLE) AS p_retailprice")
    val prio = Priorities.map(p => s"'$p'").mkString("array(", ",", ")")
    val orders = range(n.orders).selectExpr(
      "id AS o_orderkey", s"(id * 13) % ${n.customer} + 1 AS o_custkey",
      "element_at(array('F','O','P'), CAST(id % 3 AS INT) + 1) AS o_orderstatus",
      "CAST((id * 6151) % 50000000 AS DOUBLE) / 100 AS o_totalprice",
      "timestamp_seconds(757382400 + (id % 2400) * 86400) AS o_orderdate",
      s"element_at($prio, CAST(id % 5 AS INT) + 1) AS o_orderpriority")
    val lineitem = lineitemFrame(spark, 1L, n.orders, n.part, n.supplier)
    Seq("region" -> region, "nation" -> nation, "customer" -> customer, "supplier" -> supplier,
      "part" -> part, "orders" -> orders, "lineitem" -> lineitem)
  }

  /** `lineitem` rows for orders `[firstOrder, firstOrder + orders)`,
    * [[LinesPerOrder]] lines each, referencing `parts` parts and `suppliers`
    * suppliers.
    */
  def lineitemFrame(
      spark: SparkSession, firstOrder: Long, orders: Long, parts: Long, suppliers: Long): DataFrame =
    spark.range(0, orders * LinesPerOrder).selectExpr(
      s"$firstOrder + id div $LinesPerOrder AS l_orderkey",
      s"CAST(id % $LinesPerOrder + 1 AS INT) AS l_linenumber")
      .withColumn("l_partkey", expr(s"(l_orderkey * 7 + l_linenumber) % $parts + 1"))
      .withColumn("l_suppkey", expr(s"(l_orderkey * 3 + l_linenumber) % $suppliers + 1"))
      .withColumn("l_quantity", expr(quantitySql("l_orderkey", "l_linenumber")))
      .withColumn("l_extendedprice", expr("CAST((l_orderkey * 9973 + l_linenumber) % 1000000 AS DOUBLE) / 10"))
      .withColumn("l_discount", expr("CAST((l_orderkey + l_linenumber) % 11 AS DOUBLE) / 100"))
      .withColumn("l_tax", expr("CAST((l_orderkey + 2 * l_linenumber) % 9 AS DOUBLE) / 100"))
      .withColumn("l_returnflag", expr("element_at(array('A','N','R'), CAST(l_orderkey % 3 AS INT) + 1)"))
      .withColumn("l_shipdate", expr("timestamp_seconds(757382400 + (l_orderkey % 2400) * 86400)"))

  // ---- facade uploads -----------------------------------------------------

  /** Header of every generated upload. */
  val UploadHeader: Vector[String] = Vector("id", "name", "note", "amount", "city")

  /** A generated CSV upload plus the facts the checks need. */
  final case class Upload(text: String, rows: Int, naCells: Int, multilineCells: Int) {
    def bytes: Int = text.getBytes(StandardCharsets.UTF_8).length
  }

  /** A CSV upload of `rows` rows carrying the reference's edge cases:
    * quoted delimiters, embedded newlines, doubled quotes, empty cells and
    * a literal `NA`.
    */
  def upload(seed: Long, rows: Int): Upload = {
    val r = new SplittableRandom(seed)
    val sb = new java.lang.StringBuilder(rows * 48)
    sb.append(UploadHeader.mkString(",")).append('\n')
    var na = 0
    var multi = 0
    var i = 0
    while (i < rows) {
      val note = r.nextInt(10) match {
        case 0 => na += 1; "NA"
        case 1 => ""
        case 2 => "\"quoted, with comma\""
        case 3 => multi += 1; "\"line one\nline two\""
        case 4 => "\"she said \"\"hi\"\"\""
        case _ => Words(r.nextInt(Words.length))
      }
      val city = if (r.nextInt(8) == 0) "" else Cities(r.nextInt(Cities.length))
      sb.append(i).append(',').append(Words(r.nextInt(Words.length))).append(r.nextInt(1000))
        .append(',').append(note).append(',').append(r.nextInt(100000)).append('.')
        .append(r.nextInt(100)).append(',').append(city).append('\n')
      i += 1
    }
    Upload(sb.toString, rows, na, multi)
  }

  private val Cities = Vector("Berlin", "Lagos", "Lima", "Osaka", "Pune", "Quito", "Rome", "Oslo")

  // ---- corpus ------------------------------------------------------------

  /** Vocabulary of the generated corpus: lower-case words of 4-9 letters
    * (the quality gate's word-length bounds), plus the two stopwords every
    * document carries.
    */
  val Words: Vector[String] = Vector(
    "spark", "table", "column", "filter", "merge", "window", "vector", "stream", "batch",
    "shuffle", "planner", "driver", "executor", "partition", "manifest", "commit", "snapshot",
    "version", "vacuum", "export", "import", "header", "record", "schema", "catalog", "cluster",
    "signal", "corpus", "token", "shingle", "bucket", "sketch", "bloom", "index", "query",
    "ranking", "cosine", "centroid", "sample", "mixture", "packing", "quality", "symbol",
    "letter", "number", "market", "supplier", "customer", "order", "lineitem", "nation",
    "region", "price", "discount", "shipping", "status", "priority", "segment", "balance",
    "comment", "engine", "format")

  val Stopwords: Seq[String] = Seq("the", "a")

  /** Tokens appended to a noisy document: a symbol ratio the quality gate
    * rejects at any generated length.
    */
  val NoiseTail: String = Seq.fill(30)("#").mkString(" ")

  /** A generated corpus: base documents, planted near-duplicate pairs
    * `(original, copy)`, and which documents carry the noise tail.
    */
  final case class Corpus(docs: Vector[(Long, String, String, String)], planted: Vector[(Long, Long)],
      noisy: Set[Long])

  val CopyIdOffset = 1000000L

  /** `nDocs` documents of 60-100 words plus `nCopies` near-duplicate copies
    * (one word other than a stopword substituted: 3-shingle Jaccard ≥ 0.85
    * with the original).
    * Every 7th base document gets the noise tail.
    */
  def corpus(seed: Long, nDocs: Int, nCopies: Int, nSources: Int): Corpus = {
    val r = new SplittableRandom(seed)
    val langs = Vector("en", "de", "fr", "es", "zh")
    val base = (0 until nDocs).map { i =>
      val len = 60 + r.nextInt(41)
      val w = Array.fill(len)(Words(r.nextInt(Words.length)))
      w(r.nextInt(len)) = "the"
      var j = r.nextInt(len)
      while (w(j) == "the") j = r.nextInt(len)
      w(j) = "a"
      (i.toLong, w)
    }.toVector
    val noisy = base.collect { case (id, _) if id % 7 == 0 => id }.toSet
    val picked = r.ints(0, nDocs).distinct().limit(nCopies.toLong).toArray.toVector.sorted
    val copies = picked.map { i =>
      val w = base(i)._2.clone()
      var j = r.nextInt(w.length)
      while (Stopwords.contains(w(j))) j = r.nextInt(w.length)
      w(j) = if (w(j) == "spark") "table" else "spark"
      (CopyIdOffset + i, w)
    }
    def row(id: Long, w: Array[String]) = {
      val text = w.mkString(" ") + (if (noisy(id)) " " + NoiseTail else "")
      (id, text, langs((id % langs.length).toInt), s"src${id % nSources}")
    }
    Corpus(
      base.map { case (id, w) => row(id, w) } ++ copies.map { case (id, w) => row(id, w) },
      picked.map(i => (i.toLong, CopyIdOffset + i)),
      noisy)
  }

  /** `n` seeded unit vectors of dimension `dim` (Gaussian, normalized). */
  def unitVectors(seed: Long, n: Int, dim: Int): Vector[Array[Float]] = {
    val r = new java.util.Random(seed)
    Vector.fill(n) {
      val v = Array.fill(dim)(r.nextGaussian())
      val norm = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / norm).toFloat)
    }
  }

  /** `k` distinct ids drawn from `[0, n)`, sorted. */
  def distinctIds(seed: Long, n: Int, k: Int): Vector[Long] =
    new SplittableRandom(seed).ints(0, n).distinct().limit(k.toLong).toArray.toVector.sorted.map(_.toLong)
}
