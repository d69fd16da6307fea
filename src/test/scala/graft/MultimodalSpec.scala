package graft

import graft.operators.Multimodal
import org.apache.spark.sql.functions._

/** Multimodal binary-column plumbing (builder brief): the decode kernel is
  * a deterministic stub, but schema, batching, partitioning and the metadata
  * transforms are real — these tests pin them. */
class MultimodalSpec extends GraftSuite {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "hello world", "en", "web", 11),
    (1L, "a longer audio-ish payload with more bytes", "en", "web", 43),
    (2L, "video text payload", "en", "book", 18),
    (3L, "", "en", "web", 0),
    (17L, "utf-8 … ünïcödé", "de", "web", 15)
  ).toDF("doc_id", "text", "lang", "source", "n_chars")

  test("synthAssets: typed schema, modality mapping, deterministic") {
    val assets = Multimodal.synthAssets(docs).as[Multimodal.Asset].collect()
      .sortBy(_.asset_id)
    assert(assets.map(_.modality).toSeq ==
      Seq("image", "audio", "video", "image", "video"))
    val a1 = assets(1)
    assert(a1.sample_rate == 16000 && a1.n_frames == -1)
    val a2 = assets(2)
    assert(a2.sample_rate == -1 && a2.n_frames == 8 + 2 % 120)
    // payload really is the UTF-8 bytes (incl. multi-byte chars)
    assert(assets(4).bytes.sameElements("utf-8 … ünïcödé".getBytes("UTF-8")))
    // determinism across plans
    val again = Multimodal.synthAssets(docs).as[Multimodal.Asset].collect()
      .sortBy(_.asset_id)
    assert(again.map(_.width).sameElements(assets.map(_.width)))
  }

  test("extractFeatures: stubbed decode is deterministic, batch shape covers all rows") {
    val assets = Multimodal.synthAssets(docs).as[Multimodal.Asset]
    val f1 = Multimodal.extractFeatures(assets, dims = 8, batchSize = 2)
      .collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(assets.repartition(3), dims = 8, batchSize = 64)
      .collect().sortBy(_.asset_id)
    assert(f1.length == 5 && f2.length == 5)
    f1.zip(f2).foreach { case (a, b) =>
      assert(a.features.sameElements(b.features), s"asset ${a.asset_id}")
    }
    assert(f1(0).n_bytes == 11)     // "hello world"
    assert(f1(3).n_bytes == 0)      // empty payload handled
    assert(f1.forall(_.features.length == 8))
    assert(f1.forall(_.features.forall(v => v >= -1.0f && v < 1.0f)))
  }

  test("resizeMeta: bounding box respected, aspect preserved, audio untouched") {
    val out = Multimodal.resizeMeta(Multimodal.synthAssets(docs), 256)
      .select($"asset_id", $"modality", $"width", $"height", $"out_width", $"out_height")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4), r.getInt(5))).sortBy(_._1)
    out.foreach { case (id, mod, w, h, ow, oh) =>
      if (mod == "audio") assert(ow == -1 && oh == -1)
      else {
        assert(ow <= 256 && oh <= 256 && ow >= 1 && oh >= 1)
        val scale = math.min(1.0, 256.0 / math.max(w, h))
        assert(ow == math.max(1, math.floor(w * scale).toInt), s"asset $id width")
        assert(oh == math.max(1, math.floor(h * scale).toInt), s"asset $id height")
      }
    }
  }

  test("frameSamplePlan: every-Nth frame ids for video, empty otherwise") {
    val out = Multimodal.frameSamplePlan(Multimodal.synthAssets(docs), 4)
      .select($"asset_id", $"modality", $"n_frames", $"frame_ids")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getSeq[Int](3))).sortBy(_._1)
    out.foreach { case (_, mod, nf, ids) =>
      if (mod == "video") {
        assert(ids == (0 until nf by 4).toSeq)
      } else assert(ids.isEmpty)
    }
  }

  test("mm_features fake decode: byte- and order-sensitive, SQL-shaped") {
    val a = Multimodal.fakeDecode("abcd".getBytes("UTF-8"), 4)
    val b = Multimodal.fakeDecode("abce".getBytes("UTF-8"), 4)
    val c = Multimodal.fakeDecode("dcba".getBytes("UTF-8"), 4)
    assert(a.toSeq != b.toSeq && a.toSeq != c.toSeq)
    assert(Multimodal.fakeDecode("abcd".getBytes("UTF-8"), 4).toSeq == a.toSeq)
    // the restated arithmetic: tap0 of "abcd" with dims=4 is 1*'a'=97,
    // v = (97 * 2654435761 + 1) mod 2^31, f0 = v/2^31*2-1 as float
    val v = ((97L % 2147483648L) * 2654435761L + 1L) % 2147483648L
    assert(a(0) == (v.toDouble / 2147483648.0 * 2.0 - 1.0).toFloat)
    assert(Multimodal.fakeDecode(Array.empty[Byte], 4).length == 4)
  }
}
