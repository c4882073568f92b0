package graft.ops

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The commit protocol every index op shares, checked table-driven over the
  * six index kinds × {build, append, compact}: a held lease fails the op
  * before any write, a crashed attempt's debris is cleared before the op
  * commits epoch N+1, and the no-op appends commit nothing.
  */
class EpochLifecycleSpec extends SparkSpec {

  private def text(id: Long): String =
    (0 until 24).map(j => s"w${(id * 7 + j * 3) % 41}").mkString(" ") +
      s"\n\nparagraph of doc $id"

  private def labeled(ids: Seq[Long]): DataFrame =
    frame(struct("doc_id" -> LongType, "text" -> StringType, "pos" -> BooleanType),
      ids.map(i => Row(i, text(i), i % 2 == 0)): _*)

  private def vecs(ids: Seq[Long]): DataFrame =
    frame(struct("vec_id" -> LongType, "vec" -> ArrayType(FloatType)),
      ids.map(i => Row(i, Seq(math.sin(i.toDouble).toFloat, math.cos(i.toDouble).toFloat))): _*)

  private val base = 1L to 6L
  private val batch = 7L to 9L

  /** One index kind: its three ops (append folds `batch`) and, when it
    * has one, the append that must be a no-op on the built index.
    */
  private case class Kind(
      name: String,
      build: String => Unit,
      append: String => Unit,
      compact: String => Unit,
      replay: Option[String => Unit] = None)

  private val kinds = Seq(
    Kind("dedup",
      p => Dedup.writeDedupIndex(labeled(base), "text", "doc_id", p),
      p => Dedup.appendDedupIndex(labeled(batch), "text", "doc_id", p),
      p => Dedup.compactDedupIndex(spark, p)),
    Kind("paragraph",
      p => Dedup.writeParagraphIndex(labeled(base), "text", p),
      p => Dedup.appendParagraphIndex(labeled(batch), "text", p),
      p => Dedup.compactParagraphIndex(spark, p),
      replay = Some(p => Dedup.appendParagraphIndex(labeled(base), "text", p))),
    Kind("ANN",
      p => Similarity.writeAnnIndex(vecs(base), "vec", "vec_id", p, nlist = 2),
      p => Similarity.appendAnnIndex(vecs(batch), "vec", "vec_id", p),
      p => Similarity.compactAnnIndex(spark, p)),
    Kind("fingerprint",
      p => Decontam.writeFingerprintIndex(labeled(base), "doc_id", "text", p, n = 3, w = 2),
      p => Decontam.appendFingerprintIndex(labeled(batch), "doc_id", "text", p),
      p => Decontam.compactFingerprintIndex(spark, p)),
    Kind("token-frequency",
      p => TextOps.writeTokenFrequencyIndex(labeled(base), "doc_id", "text", p),
      p => TextOps.appendTokenFrequencyIndex(labeled(batch), "doc_id", "text", p),
      p => TextOps.compactTokenFrequencyIndex(spark, p),
      replay = Some(p => TextOps.appendTokenFrequencyIndex(labeled(base), "doc_id", "text", p))),
    Kind("classifier",
      p => LangModel.writeClassifierIndex(labeled(base), "doc_id", "text", "pos", p),
      p => LangModel.appendClassifierIndex(labeled(batch), "doc_id", "text", "pos", p),
      p => LangModel.compactClassifierIndex(spark, p),
      replay = Some(p =>
        LangModel.appendClassifierIndex(labeled(base), "doc_id", "text", "pos", p))))

  /** What a reader or the next writer sees of an index: the pointer, the
    * `data/` dirs and the epoch dirs.
    */
  private def snapshot(p: String): (Option[String], Set[String], Set[String]) =
    (EpochStore.currentEpoch(spark, p),
      Option(new File(s"$p/data").list()).map(_.toSet).getOrElse(Set.empty),
      new File(p).list().filter(_.startsWith("epoch-")).toSet)

  private def epochN(p: String): Long =
    EpochStore.epochNumber(EpochStore.currentEpoch(spark, p).get)

  for (k <- kinds) test(s"${k.name} index: held lease, debris and commit for build/append/compact") {
    val p = Files.createTempDirectory(s"graft-lifecycle-${k.name}").toString
    k.build(p)
    for ((op, run) <- Seq("build" -> k.build, "append" -> k.append, "compact" -> k.compact)) {
      // (a) a live lease held by another writer: the op throws before any write
      val token = EpochStore.acquireLease(spark, p)
      val before = snapshot(p)
      val err = intercept[IllegalStateException](run(p))
      assert(err.getMessage.contains("lease"), s"$op: ${err.getMessage}")
      assert(snapshot(p) == before, s"$op under a held lease must not write")
      EpochStore.releaseLease(spark, p, token)
      // (b) a crashed attempt's epoch N+1 and an orphan data dir are cleared
      val n = epochN(p)
      val debris = new File(f"$p/epoch-${n + 1}%09d")
      assert(debris.mkdirs())
      Files.write(new File(debris, "junk").toPath, "x".getBytes)
      val orphan = new File(s"$p/data/orphan-000000999")
      assert(orphan.mkdirs())
      run(p)
      assert(epochN(p) == n + 1, s"$op must commit epoch N+1")
      assert(!new File(debris, "junk").exists(), s"$op must clear the crashed attempt")
      assert(new File(debris, EpochStore.HeaderFileName).exists())
      assert(!orphan.exists(), s"$op must gc the orphan data dir")
      assert(!new File(p, EpochStore.LeaseFileName).exists(), s"$op must release its lease")
    }
  }

  test("no-op appends (paragraph replay, counter full replay) commit nothing") {
    for (k <- kinds; replay <- k.replay) {
      val p = Files.createTempDirectory(s"graft-noop-${k.name}").toString
      k.build(p)
      val before = snapshot(p)
      replay(p)
      assert(snapshot(p) == before, s"${k.name}: a no-op append must leave the index as it was")
      assert(!new File(p, EpochStore.LeaseFileName).exists())
    }
  }
}
