package graft.sources

import graft.{Scratch, SessionCache}
import graft.functions.TextFunctions
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{coalesce, col, lit}

/** One synthetic asset corpus rendered from `documents`: its file
  * extension and the files each (doc_id, text) contributes. A plain kind
  * writes asset `doc_id`; a near-dup kind writes the base rendering as
  * asset 2·doc_id plus, for doc_id % 25 = 0, a PLANTED variant as asset
  * 2·doc_id + 1 — in its own directory, because the oracle of the plain
  * kind's query replays the unperturbed corpus and must not see the
  * variants.
  */
sealed abstract class AssetKind(val ext: String,
    render: (Long, String) => Array[Byte],
    variant: Option[(Long, String) => Array[Byte]]) extends Serializable {

  /** (asset_id, bytes) of every file document `id` contributes. */
  def files(id: Long, text: String): Seq[(Long, Array[Byte])] = variant match {
    case None => Seq(id -> render(id, text))
    case Some(v) =>
      (2 * id -> render(id, text)) +:
        (if (id % 25 == 0) Seq(2 * id + 1 -> v(id, text)) else Nil)
  }
}

object AssetKind {
  /** mm6: one 16×16 P6 PPM per document, deterministic in (doc_id, text). */
  case object Ppm extends AssetKind("ppm", TextFunctions.renderPpm, None)
  /** mm9: Ppm plus the first-row +25 variant. */
  case object PpmNearDup extends AssetKind("ppm", TextFunctions.renderPpm,
    Some(TextFunctions.renderPpmPerturbed))
  /** d19: CONTENT-ADDRESSED PPMs (no doc_id salt), so two different
    * documents with identical text render identical rasters — the
    * property cross-modal identity is measured on.
    */
  case object PpmCanonical extends AssetKind("ppm",
    (_, t) => TextFunctions.renderPpmCanonical(t), None)
  /** mm7: one PCM16 WAV per document. */
  case object Wav extends AssetKind("wav", TextFunctions.renderWav, None)
  /** mm10: Wav plus the first-fingerprint-frame +100 variant. */
  case object WavNearDup extends AssetKind("wav", TextFunctions.renderWav,
    Some(TextFunctions.renderWavPerturbed))
  /** mm8: one 4-frame YUV4MPEG2 video per document. */
  case object Y4m extends AssetKind("y4m", TextFunctions.renderY4m, None)
  /** mm11: Y4m plus its perturbed variant. */
  case object Y4mNearDup extends AssetKind("y4m", TextFunctions.renderY4m,
    Some(TextFunctions.renderY4mPerturbed))
  /** s13: the UTF-8 text as an opaque payload (the fake-codec convention). */
  case object Bin extends AssetKind("bin", (_, t) => t.getBytes("UTF-8"), None)
}

object Assets {
  private val dirs = SessionCache[(String, AssetKind), String]()

  /** The session's `kind` corpus for `d`'s documents (a null text renders
    * as ""): written once, task-side from a foreachPartition (executors
    * write asset files in a real pipeline; the driver never sees payload
    * bytes), as `%08d.ext` files under [[graft.Scratch]]. Every later call
    * in the session returns the same directory, so queries only re-scan
    * it through the binaryFile source — the ingest-time cost a deployment
    * pays once.
    */
  def dir(s: SparkSession, d: String, kind: AssetKind): String =
    dirs(s, (d, kind)) {
      import s.implicits._
      val dir = Scratch.path(s"assets_${kind}_")
      Files.createDirectories(Paths.get(dir))
      Tables.documents(s, d)
        .select(col("doc_id"), coalesce(col("text"), lit("")).as("text"))
        .as[(Long, String)]
        .foreachPartition { it: Iterator[(Long, String)] =>
          it.foreach { case (id, t) =>
            kind.files(id, t).foreach { case (asset, bytes) =>
              Files.write(Paths.get(dir, f"$asset%08d.${kind.ext}"), bytes)
            }
          }
        }
      dir
    }
}
