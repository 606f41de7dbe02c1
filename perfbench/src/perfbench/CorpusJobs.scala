package perfbench

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.{Encoder, Encoders}

import graft.mr.{CorpusJob, MapReduceJob}
import graft.sources.PathGlob

/** The four jobs of one `corpus_mr` op, all over the same traversal of
  * `<shard>/<lang>/<source>/doc_<id>.txt` plus `ctx.txt` directory files.
  * `run.py` computes the expected totals directly from the documents. */
object CorpusJobs {
  implicit val longEnc: Encoder[Long] = Encoders.scalaLong

  private val docs = PathGlob("**/doc_*.txt")

  def tokens(b: Array[Byte]): Long = {
    var n = 0L
    var inToken = false
    b.foreach { c =>
      val space = c == ' ' || c == '\n' || c == '\t' || c == '\r'
      if (!space && !inToken) n += 1
      inToken = !space
    }
    n
  }

  def weight(ctx: Array[Byte]): Long = new String(ctx, UTF_8).trim.toLong

  private def sum(name: String, glob: String)(f: (Seq[Array[Byte]], Array[Byte]) => Long)
      : MapReduceJob[Long, Long] =
    MapReduceJob[Long, Long](name, PathGlob(glob),
      (_, parents, content) => Iterator.single(f(parents, content)), 0L, _ + _, _ + _)

  def all(subtree: String): Seq[CorpusJob] = Seq(
    sum("tokens", docs.pattern)((_, c) => tokens(c)),
    sum("bytes", docs.pattern)((_, c) => c.length.toLong),
    sum("subtree_lines", s"$subtree/**/doc_*.txt")((_, c) => c.count(_ == '\n').toLong),
    sum("ctx_weighted_tokens", docs.pattern)((ps, c) => ps.map(weight).sum * tokens(c))
      .copy(directoryFiles = Some(PathGlob("**/ctx.txt"))))
}
