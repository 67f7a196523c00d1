package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import graft.core.model._
import graft.fixtures.InterleavedGen
import graft.pdf.PdfBuilder

/** The doc pool of the extraction workload, generated once per checkout.
  * Every doc and its golden come from [[InterleavedGen]] (the giant doc
  * from its page construction), so the golden never depends on the
  * extractor. `run.py` cuts each seed's input out of the pool. */
object Inputs {

  final case class Sizes(mixedPool: Int, giantPages: Int, giantLines: Int)
  def sizes(size: String): Sizes =
    if (size == "tiny") Sizes(mixedPool = 800, giantPages = 48, giantLines = 40)
    else Sizes(mixedPool = 16000, giantPages = 800, giantLines = 600)

  /** Page `p` of the giant doc: a page-number line, then one-glyph lines
    * (op-dense content, the layout-heavy report shape). */
  def giantLines(p: Int, lines: Int): Seq[String] = s"giant page $p" +: Seq.fill(lines - 1)("g")

  /** Golden text of a giant page: the extractor joins a page's lines with '\n'. */
  def giantPageText(p: Int, lines: Int): String = giantLines(p, lines).mkString("\n")

  /** Writes `interleaved_docs.parquet` and `expected_docs.parquet` (docs
    * in index order), the giant doc's base64 (`giant.b64`) and
    * `meta.txt` into `dir`. */
  def genPool(spark: SparkSession, size: String, dir: String): Unit = {
    import spark.implicits._
    if (Files.exists(Paths.get(s"$dir/_DONE"))) return
    graft.io.TableIO.deleteRecursively(dir)
    val sz = sizes(size)
    val docs = spark.range(0, sz.mixedPool, 1, math.max(16, sz.mixedPool / 1500))
      .mapPartitions(_.map(i => InterleavedGen.docWithGolden(i)))
    docs.persist()
    // snappy: run.py reads the pool with pyarrow, which cannot read
    // Hadoop-framed LZ4 (the session's default codec)
    spark.conf.set("spark.sql.parquet.compression.codec", "snappy")
    docs.map(_._1).write.parquet(s"$dir/interleaved_docs.parquet")
    docs.map(_._2).write.parquet(s"$dir/expected_docs.parquet")
    docs.unpersist()
    val pdf = PdfBuilder.simple((1 to sz.giantPages).map(p =>
      PdfBuilder.multiLine(giantLines(p, sz.giantLines))), flate = true)
    Files.writeString(Paths.get(s"$dir/giant.b64"), InterleavedGen.b64(pdf))
    Files.writeString(Paths.get(s"$dir/meta.txt"),
      s"pool_docs=${sz.mixedPool}\ngiant_pages=${sz.giantPages}\ngiant_lines=${sz.giantLines}\n")
    Files.writeString(Paths.get(s"$dir/_DONE"), "")
  }

  /** key=value lines of a pool's or an input's `meta.txt`. */
  def meta(dir: String): Map[String, String] = {
    val src = scala.io.Source.fromFile(s"$dir/meta.txt")
    try src.getLines().filter(_.contains("="))
      .map { l => val i = l.indexOf('='); l.take(i) -> l.drop(i + 1) }.toMap
    finally src.close()
  }
}
