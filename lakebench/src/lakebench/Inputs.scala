package lakebench

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.sources.FixSchemaGen

/** Seeded inputs and the independent answers the benchmark checks
  * outputs against. Every input is a pure function of the seed.
  */
object Inputs {

  /** Rows of global ids as the fixed-schema generator writes them. */
  def rows(ids: DataFrame): DataFrame = ids.select(
    col("id").cast(StringType).as("foo"),
    col("id").cast(IntegerType).as("bar"),
    lit(true).as("baz"))

  /** About one in `every` of the keyed values, scattered by a seeded hash. */
  def picked(seed: Long, salt: Int, every: Int, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(every.toLong)) === 0

  /** Position deletes of `files` files of `rpf` rows: about 1 in
    * `every` positions of each file, keyed on (file, pos).
    */
  def posDeletes(spark: SparkSession, seed: Long, files: Int, rpf: Long,
      every: Int): DataFrame = {
    val file = (col("id") / rpf).cast(IntegerType)
    val pos = col("id") % rpf
    spark.range(0L, files * rpf)
      .filter(picked(seed, 1, every, file, pos))
      .select(format_string("data/part-%05d.parquet", file).as("file_path"),
        pos.as("pos"))
  }

  /** Equality deletes on (foo, bar) for about 1 in `every` keys of [0, n). */
  def eqDeletes(spark: SparkSession, seed: Long, n: Long, every: Int): DataFrame =
    rows(spark.range(0L, n).filter(picked(seed, 2, every, col("id"))).toDF())
      .select("foo", "bar")

  /** Order-free checksum over every column: (row count, bit_xor of row hashes). */
  def checksum(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)),
      coalesce(bit_xor(xxhash64(struct(df.columns.toIndexedSeq.map(col): _*))),
        lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Checksums per file index of the bulk table read without the MOR
    * path: the data files read as plain parquet, rows dropped by the
    * same seeded predicates the delete generators used. Per file:
    * (all rows, rows surviving position deletes, rows surviving both).
    */
  def bulkOracle(spark: SparkSession, dataDir: String, seed: Long,
      every: Int): Map[Int, Seq[(Long, Long)]] = {
    val scan = spark.read.parquet(dataDir).select(col("foo"), col("bar"), col("baz"),
      regexp_extract(col("_metadata.file_name"), "part-(\\d+)", 1).cast(IntegerType).as("f"),
      col("_metadata.row_index").as("p"))
    val h = xxhash64(struct(col("foo"), col("bar"), col("baz")))
    val dv = !picked(seed, 1, every, col("f"), col("p"))
    val all = dv && !picked(seed, 2, every, col("bar").cast(LongType))
    def part(keep: Column) = Seq(
      count(when(keep, 1)), coalesce(bit_xor(when(keep, h)), lit(0L)))
    val aggs = part(lit(true)) ++ part(dv) ++ part(all)
    scan.groupBy("f").agg(aggs.head, aggs.tail: _*).collect().map { r =>
      r.getInt(0) -> (0 until 3).map(i => (r.getLong(1 + 2 * i), r.getLong(2 + 2 * i)))
    }.toMap
  }

  /** Combine per-part checksums. */
  def combine(parts: Iterable[(Long, Long)]): (Long, Long) =
    parts.foldLeft((0L, 0L)) { case ((n, x), (m, y)) => (n + m, x ^ y) }

  /** The `xxhash64(struct(foo, bar, baz))` of one fixed-schema row,
    * computed on the driver with Spark's interpreted hash (seed 42).
    */
  def rowHash(foo: String, bar: Int, baz: Boolean): Long = {
    val h0 = XxHash64Function.hash(UTF8String.fromString(foo), StringType, 42L)
    val h1 = XxHash64Function.hash(bar, IntegerType, h0)
    XxHash64Function.hash(baz, BooleanType, h1)
  }

  /** One CDC change row on the fixed schema. */
  final case class Change(kind: String, foo: String, bar: Int, baz: Boolean)

  /** Batch `no` of CDC changes for a table of keys [0, n): `keys` distinct
    * keys, 80% updates of existing keys (a delete and an insert row, as a
    * change feed carries an upsert), 10% inserts of new keys (n upward,
    * `keys / 10` per batch) and 10% deletes. A pure function of its
    * arguments.
    */
  def cdcBatch(seed: Long, no: Int, n: Long, keys: Int): Seq[Change] = {
    val rnd = new scala.util.Random(seed * 1000003L + no)
    val fresh = keys / 10
    val old = Iterator.continually(rnd.nextLong(n).toInt).distinct.take(keys - fresh).toSeq
    val (upd, del) = old.splitAt(keys - 2 * fresh)
    upd.flatMap(k => Seq(Change("delete", k.toString, k, true),
      Change("insert", s"v$no-$k", k, (k + no) % 2 == 0))) ++
      (0 until fresh).map { i =>
        val k = (n + no.toLong * fresh + i).toInt
        Change("insert", s"v$no-$k", k, true)
      } ++
      del.map(k => Change("delete", k.toString, k, true))
  }

  /** The change rows as the DataFrame `Replication.applyChanges` takes. */
  def cdcFrame(spark: SparkSession, batch: Seq[Change], version: Long): DataFrame = {
    val schema = StructType(FixSchemaGen.dataSchema.fields.map(_.copy(metadata = Metadata.empty)) ++
      Seq(StructField("_change_type", StringType), StructField("_change_version", LongType)))
    spark.createDataFrame(batch.map(c => Row(c.foo, c.bar, c.baz, c.kind, version)).asJava, schema)
  }

  private val vocab: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is") ++ (0 until 400).map(i => f"w$i%03d")

  /** `docs` seeded documents (doc_id, text, lang, source, n_chars) grown
    * from `docs / copies` originals: each copy beyond the first is an
    * exact duplicate (1 in 4), a near duplicate with a suffix (2 in 4)
    * or a distinct document (1 in 4), picked by a seeded hash.
    */
  def documents(spark: SparkSession, seed: Long, docs: Long, copies: Int): DataFrame = {
    val originals = docs / copies
    val words = array(vocab.map(lit): _*)
    def text(key: Column) = array_join(transform(
      sequence(lit(1), (pmod(xxhash64(lit(seed), key), lit(40L)) + 20).cast(IntegerType)),
      i => element_at(words, (pmod(xxhash64(lit(seed), key, i), lit(vocab.size.toLong)) + 1)
        .cast(IntegerType))), " ")
    val orig = col("id") % originals
    val copy = (col("id") / originals).cast(LongType)
    val kind = pmod(xxhash64(lit(seed), lit(3), col("id")), lit(4L))
    val t = when(copy === 0 || kind === 0, text(orig))
      .when(kind === 3, text(col("id") + lit(1L << 40)))
      .otherwise(concat(text(orig), lit(" rev"), copy.cast(StringType)))
    spark.range(0L, docs).select(col("id").as("doc_id"), t.as("text"),
        element_at(array(lit("en"), lit("de"), lit("fr")),
          (pmod(col("id"), lit(3L)) + 1).cast(IntegerType)).as("lang"),
        concat(lit("src"), pmod(xxhash64(lit(seed), lit(4), orig), lit(20L))).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  /** `n` seeded unit-scale float vectors of `dims` dimensions around
    * `clusters` seeded centres (vec_id, embedding, label).
    */
  def embeddings(spark: SparkSession, seed: Long, n: Long, dims: Int, clusters: Int): DataFrame = {
    val c = pmod(xxhash64(lit(seed), lit(5), col("id")), lit(clusters.toLong))
    def unit(h: Column) = (pmod(h, lit(2000L)) - 1000) / 1000.0
    val e = transform(sequence(lit(0), lit(dims - 1)), i =>
      (unit(xxhash64(lit(seed), lit(6), c, i)) +
        unit(xxhash64(lit(seed), lit(7), col("id"), i)) * 0.3).cast(FloatType))
    spark.range(0L, n).select(col("id").as("vec_id"), e.as("embedding"),
      concat(lit("c"), c.cast(StringType)).as("label"))
  }
}
