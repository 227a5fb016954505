package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.operators.LangIdTrained

/** Regenerates `operators/LangIdPinned.scala` — the PINNED literal
  * weight table the curation composites score with.
  *
  * The pin exists for oracle-replay economy: q_text_langid_trained
  * certifies the full training procedure (all GD rounds replayed in
  * SQL), so the composites that merely USE the model replay 64 fused
  * dots against a literal VALUES table instead of re-deriving 24 GD
  * rounds per composite oracle. Training here is the exact procedure
  * the certified query runs — [[LangIdTrained.train]] over the
  * deterministic synthetic corpus on `range(0, TrainIds)` (TrainIds =
  * 1600: 25 samples per class at K = 64), md5-mode features, dim 64,
  * 24 rounds, lr 4.0 — so the spec
  * (LangIdTrainedSpec "pinned model == retrained model") can retrain
  * and assert literal equality; a drift in ANY training ingredient
  * fails the build. `Double.toString` literals round-trip bit-exactly
  * in both scalac and DuckDB's correctly-rounding VARCHAR->DOUBLE cast.
  *
  * Usage: `sbt "runMain graft.tools.GenLangIdPinned"` (writes the file
  * in place; commit the diff, or the spec fails on the stale pin).
  */
object GenLangIdPinned {

  /** the training geometry the pin and the spec share */
  val TrainIds: Long = 1600L
  val Rounds: Int = 24
  val Lr: Double = 4.0
  val Dim: Int = 64

  def trainPinned(spark: SparkSession): LangIdTrained.MulticlassModel = {
    val corpus = LangIdTrained.withFeatures(
      LangIdTrained.syntheticCorpus(
        spark.range(TrainIds).select(col("id").as("doc_id"))),
      "sent", dim = Dim)
    LangIdTrained.train(corpus, "doc_id", "feats", "lang_k",
      LangIdTrained.LangVocab.map(_._1), rounds = Rounds, lr = Lr,
      maxSample = TrainIds.toInt)
  }

  def render(m: LangIdTrained.MulticlassModel): String = {
    val sb = new StringBuilder
    sb ++= "package graft.operators\n\n"
    sb ++= "// GENERATED by graft.tools.GenLangIdPinned — do not edit by hand.\n"
    sb ++= "// Regenerate: sbt \"runMain graft.tools.GenLangIdPinned\"\n"
    sb ++= "/** The pinned trained language-ID model the curation composites\n"
    sb ++= "  * score with: [[LangIdTrained.train]] over the deterministic\n"
    sb ++= s"  * synthetic corpus on range(0, ${TrainIds}) (${TrainIds / LangIdTrained.NumLangs}/class), md5 features,\n"
    sb ++= s"  * dim ${Dim}, ${Rounds} rounds, lr ${Lr}. LangIdTrainedSpec retrains and\n"
    sb ++= "  * asserts literal equality, so this pin cannot drift from the\n"
    sb ++= "  * procedure q_text_langid_trained certifies end to end in SQL.\n"
    sb ++= "  */\n"
    sb ++= "object LangIdPinned {\n"
    sb ++= "  val Labels: Seq[String] = Seq(\n    "
    sb ++= m.labels.map(l => "\"" + l + "\"").mkString(", ")
    sb ++= ")\n\n"
    sb ++= "  val Biases: Seq[Double] = Seq(\n"
    sb ++= m.biases.grouped(4).map(g =>
      "    " + g.map(_.toString).mkString(", ")).mkString(",\n")
    sb ++= ")\n\n"
    sb ++= "  val Weights: Seq[Seq[Double]] = Seq(\n"
    sb ++= m.weights.zipWithIndex.map { case (w, c) =>
      s"    // class $c: ${m.labels(c)}\n" +
        w.grouped(4).map(g =>
          "    " + g.map(_.toString).mkString(", ")).mkString(
          "    Seq(\n", ",\n", ")")
    }.mkString(",\n")
    sb ++= ")\n\n"
    sb ++= "  val Model: LangIdTrained.MulticlassModel =\n"
    sb ++= "    LangIdTrained.MulticlassModel(Weights, Biases, Labels)\n"
    sb ++= "}\n"
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    val spark = graft.GraftSession()
    val out = render(trainPinned(spark))
    val path = java.nio.file.Paths.get(
      "src/main/scala/graft/operators/LangIdPinned.scala")
    java.nio.file.Files.write(path, out.getBytes("UTF-8"))
    println(s"wrote $path (${out.length} chars)")
    spark.stop()
  }
}
