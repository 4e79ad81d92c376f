package graft.table

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Driver-side parquet-footer metadata reads for commit lineage.
  *
  * A commit needs per-file row counts and the committed `seq` range for its
  * lineage rows (north rule: per-partition lineage + metrics per commit).
  * Reading those back through a Spark job costs a full scan + collect per
  * commit — at micro-run cadence that fixed cost dominates the run
  * (VERDICT r01 "What's wrong" #4). Parquet footers already carry exact row
  * counts and column min/max statistics, so lineage is a metadata-only read:
  * O(#files) footer fetches on the driver, no job, no data pages touched.
  *
  * At cluster scale the same trick holds: footers live in the object store
  * and are a few KB each; real Iceberg does exactly this (manifest files
  * record per-data-file row counts and column bounds taken from the writer's
  * footer statistics).
  */
object ParquetFooters {

  /** Per-data-file lineage: row count + min/max of `seqCol` (as decimal
    * strings, or None when the column is absent/uncollected). */
  final case class FileStats(file: String, rows: Long,
                             minSeq: Option[BigInt], maxSeq: Option[BigInt])

  private val conf = new Configuration()

  /** Stats for every part-file under `dir`, sorted by path relative to
    * `dir`. */
  def stats(dir: Path, seqCol: Option[String]): Seq[FileStats] = {
    if (!Files.isDirectory(dir)) return Seq.empty
    val stream = Files.walk(dir)
    val parts =
      try stream.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).toSeq
      finally stream.close()
    parts.sortBy(p => dir.relativize(p).toString).map(p => fileStats(p, seqCol))
  }

  private def fileStats(p: Path, seqCol: Option[String]): FileStats = {
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p.toString), conf))
    try {
      val footer = reader.getFooter
      val blocks = footer.getBlocks.asScala.toSeq
      val rows = blocks.map(_.getRowCount).sum
      val (mn, mx) = seqCol match {
        case None => (None, None)
        case Some(c) =>
          val perBlock = blocks.flatMap { b =>
            b.getColumns.asScala.find(_.getPath.toDotString == c).flatMap { cc =>
              val st = cc.getStatistics
              if (st == null || !st.hasNonNullValue) None
              else decode(cc.getPrimitiveType.getPrimitiveTypeName,
                st.genericGetMin.asInstanceOf[AnyRef], st.genericGetMax.asInstanceOf[AnyRef])
            }
          }
          if (perBlock.isEmpty) (None, None)
          else (Some(perBlock.map(_._1).min), Some(perBlock.map(_._2).max))
      }
      FileStats(p.getFileName.toString, rows, mn, mx)
    } finally reader.close()
  }

  /** Decode footer min/max into BigInt for the integer-ish types `seq` can
    * be stored as: INT32/INT64 directly, or a decimal(38,0) encoded as
    * FIXED_LEN_BYTE_ARRAY / BINARY (two's-complement big-endian). */
  private def decode(t: PrimitiveTypeName, mn: AnyRef, mx: AnyRef): Option[(BigInt, BigInt)] =
    t match {
      case PrimitiveTypeName.INT64 =>
        Some((BigInt(mn.asInstanceOf[java.lang.Long].longValue()),
              BigInt(mx.asInstanceOf[java.lang.Long].longValue())))
      case PrimitiveTypeName.INT32 =>
        Some((BigInt(mn.asInstanceOf[java.lang.Integer].intValue()),
              BigInt(mx.asInstanceOf[java.lang.Integer].intValue())))
      case PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY | PrimitiveTypeName.BINARY =>
        Some((BigInt(new java.math.BigInteger(mn.asInstanceOf[Binary].getBytes)),
              BigInt(new java.math.BigInteger(mx.asInstanceOf[Binary].getBytes))))
      case _ => None
    }
}
