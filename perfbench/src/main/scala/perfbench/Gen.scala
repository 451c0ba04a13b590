package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded inputs and the content fingerprint. The records are
  * generated; the corpus is a fixed set of documents whose file layout
  * and row order the seed picks. Inputs are written as plain parquet
  * that the program then reads like any other input; nothing here
  * calls into the program.
  *
  * Record keys start with the 4-byte partition and the 8-byte offset
  * (big-endian), so byte order of the key is (partition, offset) order
  * and the dump's ordering contract can be checked from the key alone.
  */
object Gen {

  val Partitions = 12

  /** `c` as `width` big-endian bytes (non-negative values). */
  def bytesOf(c: Column, width: Int): Column =
    unhex(lpad(hex(c), width * 2, "0"))

  /** Per-partition starting offset: a Kafka tail starts mid-log. */
  private def baseOffset(seed: Long, partition: Column): Column =
    pmod(xxhash64(lit(seed), partition), lit(1000000000L))

  private def recordKey(seed: Long, partition: Column, offset: Column, id: Column): Column =
    concat(bytesOf(partition, 4), bytesOf(offset, 8),
           bytesOf(xxhash64(lit(seed), id), 8))

  /** `n` records over [[Partitions]] partitions, laid out as a Kafka
    * read delivers them: one input split per partition, each holding
    * that partition's offset range in order. Values are shaped like the
    * reference producer's "Message to send to kafka ..." (~90 bytes).
    */
  def tailRecords(spark: SparkSession, n: Long, seed: Long): DataFrame = {
    require(n % Partitions == 0, s"record count $n must divide by $Partitions")
    val per = n / Partitions
    val p = expr(s"cast(id div $per as int)")
    spark.range(0, n, 1, Partitions)
      .select(col("id"), p.as("partition"))
      .withColumn("offset", baseOffset(seed, col("partition")) + col("id") - col("partition") * per)
      .select(
        recordKey(seed, col("partition"), col("offset"), col("id")).as("key"),
        concat(lit("Message to send to kafka "), lpad(col("offset").cast("string"), 12, "0"),
               lit(" "), substring(sha2(concat(lit(seed.toString), col("id").cast("string")), 256), 1, 48))
          .cast("binary").as("value"),
        col("partition"), col("offset"))
  }

  /** `n` small records spread over `files` files of consecutive poll
    * results: each file interleaves every partition (record i goes to
    * partition i mod [[Partitions]]), so ordering a micro-batch by
    * (partition, offset) needs a real shuffle.
    */
  def polledRecords(spark: SparkSession, n: Long, files: Int, seed: Long): DataFrame =
    spark.range(0, n, 1, files)
      .select(col("id"), pmod(col("id"), lit(Partitions.toLong)).cast("int").as("partition"))
      .withColumn("offset", baseOffset(seed, col("partition")) + expr(s"id div $Partitions"))
      .select(
        recordKey(seed, col("partition"), col("offset"), col("id")).as("key"),
        concat(lit("Message to send to kafka "), col("offset").cast("string"))
          .cast("binary").as("value"),
        col("partition"), col("offset"))

  /** Writes the fixed documents `docs` as `<dir>/documents.parquet` in
    * a seed-chosen file count and row order: every seed dumps the same
    * content.
    */
  def writeCorpus(docs: DataFrame, dir: String, seed: Long): Unit = {
    val files = 2 + (seed & 3).toInt
    val h = xxhash64(lit(seed), col("doc_id"))
    docs.repartitionByRange(files, h).sortWithinPartitions(h)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Order-independent content fingerprint of `df` over `cols`: row
    * count and the sum of per-row 64-bit hashes. The one fingerprint
    * every check compares: inputs, dumps, sinks and decoded corpora.
    */
  def contentHash(df: DataFrame, cols: Column*): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(xxhash64(cols: _*).cast("decimal(38,0)"))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}
