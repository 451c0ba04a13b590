package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.hadoop.fs.{FileSystem, Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._

/** A run of consecutive rows of one file, as one scan task saw it. */
final case class Run(file: String, firstIdx: Long, lastIdx: Long, firstKey: Array[Byte], lastKey: Array[Byte])

/** Result of [[Checks.scan]]: the content fingerprint and the number
  * of rows out of order.
  */
final case class Scan(content: (Long, BigDecimal), violations: Long)

/** What a dump directory holds, read from its listing and footers. */
final case class DumpLayout(files: Seq[String], rows: Seq[Long], bytes: Long, failures: Seq[String]) {
  def totalRows: Long = rows.sum
}

/** Output checks, run outside the timed region. Each returns the list
  * of failures it found (empty when the output is correct).
  */
object Checks {

  /** Catalog contract of one dump directory: only `{dumpId}-%015d.parquet`
    * data files, named by cumulative row count in sorted order, each at
    * most `maxPerFile` rows (from the footers), gzip-compressed, with
    * the positional binary `"0"`/`"1"` schema.
    */
  def layout(spark: SparkSession, dir: String, dumpId: String, maxPerFile: Long): DumpLayout = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = FileSystem.get(new java.net.URI(dir), conf)
    val status = fs.listStatus(new HPath(dir)).filter(_.isFile)
      .filterNot(f => f.getPath.getName.startsWith("_") || f.getPath.getName.startsWith("."))
    val listed = status.map(_.getPath.getName).toSeq
    val names = listed.sorted
    val failures = Seq.newBuilder[String]
    if (names.isEmpty) failures += s"$dir: no data files"
    var cumulative = 0L
    val rows = names.map { n =>
      val expected = f"$dumpId-$cumulative%015d.parquet"
      if (n != expected) failures += s"$dir: file $n, expected $expected"
      val r = ParquetFileReader.open(HadoopInputFile.fromPath(new HPath(dir, n), conf))
      try {
        val count = r.getRecordCount
        if (count > maxPerFile) failures += s"$dir/$n: $count rows > $maxPerFile"
        val fields = r.getFooter.getFileMetaData.getSchema.getFields.asScala
        val schemaOk = fields.map(_.getName) == Seq("0", "1") && fields.forall(f =>
          f.isPrimitive && f.asPrimitiveType.getPrimitiveTypeName == PrimitiveTypeName.BINARY)
        if (!schemaOk) failures += s"$dir/$n: schema ${fields.mkString(", ")}"
        val codecs = r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        if (codecs.exists(_ != CompressionCodecName.GZIP)) failures += s"$dir/$n: codecs $codecs"
        cumulative += count
        count
      } finally r.close()
    }
    DumpLayout(names, rows, status.map(_.getLen).sum, failures.result())
  }

  /** Content fingerprint ([[Gen.contentHash]] of `"0"`, `"1"`) of dump
    * directories, and the number of rows whose sort key does not
    * strictly exceed the previous row's in file-name + row-index order
    * within each dump. `sortKey` maps the `"0"` key column to a binary
    * key whose unsigned byte order is the order the dump must follow.
    * Split-safe: each task reports its runs of consecutive row indexes,
    * and the driver checks the seams between runs.
    */
  def scan(spark: SparkSession, dirs: Seq[String], sortKey: Column): Scan = {
    val df = spark.read.parquet(dirs: _*)
    val parts = df.select(sortKey, col("_metadata.file_path"), col("_metadata.row_index"))
      .rdd.mapPartitions { rows =>
        var bad = 0L
        val runs = ArrayBuffer.empty[Run]
        var run: Run = null
        rows.foreach { r =>
          val k = r.getAs[Array[Byte]](0)
          val f = r.getString(1)
          val i = r.getLong(2)
          if (run == null || run.file != f || run.lastIdx + 1 != i) {
            if (run != null) runs += run
            run = Run(f, i, i, k, k)
          } else {
            if (java.util.Arrays.compareUnsigned(run.lastKey, k) >= 0) bad += 1
            run = run.copy(lastIdx = i, lastKey = k)
          }
        }
        if (run != null) runs += run
        Iterator.single((bad, runs.toSeq))
      }.collect()
    val seams = parts.toSeq.flatMap(_._2).groupBy(r => r.file.substring(0, r.file.lastIndexOf('/'))).values
      .map { runs =>
        val sorted = runs.sortBy(r => (r.file, r.firstIdx))
        sorted.zip(sorted.drop(1)).count { case (a, b) =>
          java.util.Arrays.compareUnsigned(a.lastKey, b.firstKey) >= 0 }.toLong
      }.sum
    Scan(Gen.contentHash(df, col("0"), col("1")), parts.map(_._1).sum + seams)
  }

  /** Full check of a dump against an expected content fingerprint. */
  def dump(spark: SparkSession, dir: String, dumpId: String, maxPerFile: Long,
           sortKey: Column, expected: (Long, BigDecimal)): (DumpLayout, Seq[String]) = {
    val l = layout(spark, dir, dumpId, maxPerFile)
    val f = Seq.newBuilder[String] ++= l.failures
    if (l.files.nonEmpty) {
      val got = scan(spark, Seq(dir), sortKey)
      if (got.content != expected) f += s"$dir: content ${got.content}, expected $expected"
      if (got.violations != 0) f += s"$dir: ${got.violations} rows out of order"
    }
    (l, f.result())
  }
}
