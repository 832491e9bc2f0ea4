package perfbench

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.Path
import javax.imageio.{IIOImage, ImageIO}

import graft.dedup.Dedup
import graft.model.{File, Table}
import graft.multimodal.Multimodal
import graft.ops.{LoadFile, TableIO}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, size}
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.Random

/** The multimodal family: per-row image, GIF and audio codecs, with planted
  * near-duplicate images (brightened copies) deduplicated through their
  * 64-bit perceptual hashes, and noised audio copies whose hashes must stay
  * close to their originals'.
  */
object MediaDecode extends Workload {
  val name = "media_decode"

  private val Images      = 32
  private val ImageCopies = 8
  private val Side        = 256
  private val Thumb       = 64
  private val Gifs        = 16
  private val GifFrames   = 10
  private val GifSide     = 64
  private val Clips       = 32
  private val ClipCopies  = 8
  private val Rate        = 16000
  private val ClipFrames  = 5 * Rate
  private val Sampled     = 4

  private final case class Truth(imagePairs: Seq[(Long, Long)], clipPairs: Seq[(Long, Long)],
      clipRms: Map[Long, Double])
  @volatile private var truth: Truth = _

  /** A smooth random field (bilinear over a coarse grid) plus pixel noise. */
  private def field(r: Random, w: Int, h: Int, grid: Int): Array[Array[Double]] = {
    val g = Array.fill(grid + 1, grid + 1)(r.nextDouble() * 200 + 28)
    Array.tabulate(h, w) { (y, x) =>
      val gy = y.toDouble * grid / h; val gx = x.toDouble * grid / w
      val y0 = gy.toInt; val x0 = gx.toInt; val fy = gy - y0; val fx = gx - x0
      g(y0)(x0) * (1 - fy) * (1 - fx) + g(y0)(x0 + 1) * (1 - fy) * fx +
        g(y0 + 1)(x0) * fy * (1 - fx) + g(y0 + 1)(x0 + 1) * fy * fx
    }
  }

  private def clamp(v: Double): Int = math.max(0, math.min(255, math.round(v).toInt))

  private def png(img: BufferedImage): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, "png", out)
    out.toByteArray
  }

  private def rgb(base: Array[Array[Double]], noise: Array[Array[Int]], tint: (Int, Int, Int),
      shift: Int): BufferedImage = {
    val img = new BufferedImage(Side, Side, BufferedImage.TYPE_INT_RGB)
    val px  = img.getRaster.getDataBuffer.asInstanceOf[java.awt.image.DataBufferInt].getData
    for (y <- 0 until Side; x <- 0 until Side) {
      val v = base(y)(x) + noise(y)(x) + shift
      px(y * Side + x) = (clamp(v + tint._1) << 16) | (clamp(v + tint._2) << 8) | clamp(v + tint._3)
    }
    img
  }

  private def gif(frames: Seq[BufferedImage]): Array[Byte] = {
    val out    = new ByteArrayOutputStream()
    val ios    = ImageIO.createImageOutputStream(out)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach(f => writer.writeToSequence(new IIOImage(f, null, null), null))
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    out.toByteArray
  }

  /** 16-bit mono PCM WAV. */
  private def wav(samples: Array[Double]): Array[Byte] = {
    val data = samples.length * 2
    val b    = java.nio.ByteBuffer.allocate(44 + data).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + data).put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1.toShort).putShort(1.toShort)
      .putInt(Rate).putInt(Rate * 2).putShort(2.toShort).putShort(16.toShort)
    b.put("data".getBytes("US-ASCII")).putInt(data)
    samples.foreach(s => b.putShort(pcm(s)))
    b.array()
  }

  private def pcm(s: Double): Short = math.max(-32768, math.min(32767, math.round(s * 32767).toInt)).toShort

  def generate(spark: SparkSession, dir: Path, seed: Long): Long = {
    val r = new Random(seed * 15485863L + 5)
    val bases = (1 to Images).map { _ =>
      (field(r, Side, Side, 12), Array.fill(Side, Side)(r.nextInt(33) - 16),
        (r.nextInt(41) - 20, r.nextInt(41) - 20, r.nextInt(41) - 20))
    }
    val images = mutable.ArrayBuffer[(Long, Array[Byte])]()
    bases.zipWithIndex.foreach { case ((f, n, t), i) => images += ((i + 1).toLong -> png(rgb(f, n, t, 0))) }
    val imagePairs = r.shuffle((1 to Images).toVector).take(ImageCopies).zipWithIndex.map { case (src, j) =>
      val (f, n, t) = bases(src - 1)
      val id = (Images + j + 1).toLong
      images += (id -> png(rgb(f, n, t, 14)))
      (src.toLong, id)
    }

    val gifs = (1 to Gifs).map { g =>
      val frames = (1 to GifFrames).map { _ =>
        val f   = field(r, GifSide, GifSide, 8)
        val img = new BufferedImage(GifSide, GifSide, BufferedImage.TYPE_BYTE_GRAY)
        for (y <- 0 until GifSide; x <- 0 until GifSide) {
          val v = clamp(f(y)(x)); img.getRaster.setSample(x, y, 0, v)
        }
        img
      }
      g.toLong -> gif(frames)
    }

    def clip(): Array[Double] = {
      val levels = Array.fill(81)(0.05 + r.nextDouble() * 0.85)
      val freq   = 200 + r.nextInt(600)
      Array.tabulate(ClipFrames) { i =>
        val pos = i.toDouble * 80 / ClipFrames; val k = pos.toInt; val f = pos - k
        (levels(k) * (1 - f) + levels(k + 1) * f) * math.sin(2 * math.Pi * freq * i / Rate)
      }
    }
    val clips = mutable.LinkedHashMap[Long, Array[Double]]()
    (1 to Clips).foreach(i => clips(i.toLong) = clip())
    val clipPairs = r.shuffle((1 to Clips).toVector).take(ClipCopies).zipWithIndex.map { case (src, j) =>
      val id = (Clips + j + 1).toLong
      clips(id) = clips(src.toLong).map(s => s + r.nextGaussian() * 0.004)
      (src.toLong, id)
    }
    // RMS of the samples as the decoder sees them: 16-bit, scaled by 1/32768.
    val clipRms = clips.map { case (id, s) =>
      id -> math.sqrt(s.map(x => { val v = pcm(x) / 32768.0; v * v }).sum / s.length)
    }.toMap

    val bin = (id: String, payload: String) =>
      StructType(Seq(StructField(id, LongType), StructField(payload, BinaryType)))
    Gen.parquet(spark, dir.resolve("images.parquet"), bin("img_id", "png"),
      images.toSeq.map { case (id, b) => Row(id, b) }, 4)
    Gen.parquet(spark, dir.resolve("gifs.parquet"), bin("gif_id", "gif"),
      gifs.map { case (id, b) => Row(id, b) }, 4)
    Gen.parquet(spark, dir.resolve("audio.parquet"), bin("aud_id", "wav"),
      clips.toSeq.map { case (id, s) => Row(id, wav(s)) }, 4)

    truth = Truth(imagePairs, clipPairs, clipRms)
    (images.size + gifs.size + clips.size).toLong
  }

  private def write(df: DataFrame, table: String): Unit =
    TableIO.overwrite(df.sparkSession, df, Table(table))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    def load(n: String) = LoadFile.toDataFrame(spark, File(ctx.input(s"$n.parquet")))
    ctx.step("image_decode", "multimodal", "images.parquet") {
      val meta   = Multimodal.decodeImageMeta(load("images"), "png")
      val thumbs = Multimodal.resizeTo(meta, "png", "thumb", Thumb, Thumb)
      write(Multimodal.imageDHash(thumbs, "png").drop("png"), "image_features")
    }
    ctx.step("image_dedup", "dedup") {
      write(Dedup.dedupHash64Transitive(spark.table("image_features").select("img_id", "dhash"),
        "img_id", "dhash"), "images_kept")
    }
    ctx.step("gif_frames", "multimodal", "gifs.parquet") {
      write(Multimodal.sampleGifFrames(load("gifs"), "gif", "frames", Sampled).drop("gif"), "gif_frames")
    }
    ctx.step("audio_decode", "multimodal", "audio.parquet") {
      val meta  = Multimodal.decodeAudioMeta(load("audio"), "wav")
      val feats = Multimodal.audioFeatures(meta, "wav")
      write(Multimodal.audioHash(feats, "wav").drop("wav"), "audio_features")
    }
  }

  def check(ctx: Ctx): Verdict = {
    val spark = ctx.spark
    val tr    = truth
    val c     = new Checker

    val images = Images + ImageCopies
    val feats = Gen.attempt(spark.table("image_features")
      .where(col("meta.width") === Side && col("meta.height") === Side && col("meta.format") === "png" &&
        col("thumb").isNotNull && col("dhash").isNotNull).count())
    c.expect("image_decode", feats.contains(images.toLong), s"$feats of $images images decoded as expected")

    c.dedup("image_dedup", (1L to images.toLong).toSet, Gen.ids(spark, "images_kept", "img_id"),
      tr.imagePairs)

    val gifs = Gen.attempt(spark.table("gif_frames").where(size(col("frames")) === Sampled).count())
    c.expect("gif_frames", gifs.contains(Gifs.toLong), s"$gifs of $Gifs GIFs gave $Sampled frames")

    // Audio is hashed but not deduplicated here: a planted pair is found
    // when its two hashes are within the hash64 dedup's default distance.
    val clips = Gen.attempt(spark.table("audio_features")
      .where(col("meta.sample_rate") === Rate && col("audio.frames") === ClipFrames && col("ahash").isNotNull)
      .select("aud_id", "audio.rms", "ahash").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getLong(2))).toMap).getOrElse(Map.empty)
    val near = tr.clipPairs.count { case (a, b) =>
      clips.contains(a) && clips.contains(b) && java.lang.Long.bitCount(clips(a)._2 ^ clips(b)._2) <= 3
    }
    c.found += near; c.planted += tr.clipPairs.size
    c.expect("audio_decode", clips.size == tr.clipRms.size && near >= 0.9 * tr.clipPairs.size &&
      clips.forall { case (id, (rms, _)) => math.abs(rms - tr.clipRms(id)) < 1e-6 },
      s"${clips.size} of ${tr.clipRms.size} clips decoded with the expected rate, length and level; " +
        s"$near of ${tr.clipPairs.size} planted pairs hash within 3 bits")
    c.verdict
  }
}
