package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.MultimodalOps
import graft.operators.MultimodalOps.MediaDoc
import graft.streaming.StreamingJobs
import graft.streaming.StreamingJobs.SessionEvent

class MultimodalStreamingSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  test("multimodal decode: deterministic frames, exact cardinality, partition-preserving, no shuffle") {
    val media = MultimodalOps
      .mediaTable(Tables.documents(spark, sfDir))
      .as[MediaDoc]
      .repartition(6)
    val frames = MultimodalOps.decodeFrames(media, frameStride = 2)

    // Narrow op: no exchange may appear between the scan and the decode.
    val plan = frames.queryExecution.executedPlan.toString
    assert(plan.linesIterator.count(_.contains("Exchange")) == 1, s"decode must stay narrow:\n$plan")

    val expected = media
      .select(col("doc_id"), col("n_bytes"))
      .as[(Long, Long)]
      .collect()
      .map { case (_, n) => (MultimodalOps.frameCount(n) + 1) / 2 }
      .sum
    val out = frames.collect()
    assert(out.length == expected, "frame cardinality must be exact (stride 2)")
    assert(out.forall(f => f.width == 32 && f.height == 32), "frames must be resized to the target geometry")
    assert(out.forall(f => f.features.length == 16))
    assert(out.forall(f => math.abs(f.features.sum - 1.0) < 1e-9), "histogram must be normalized")

    // Determinism: a second run yields byte-identical features.
    val again = MultimodalOps.decodeFrames(media, frameStride = 2).collect()
    assert(out.sortBy(f => (f.doc_id, f.frame_idx)).map(_.features.toSeq).toSeq ==
      again.sortBy(f => (f.doc_id, f.frame_idx)).map(_.features.toSeq).toSeq)
  }

  test("streaming staged load: micro-batches merge into main incrementally and idempotently") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("sload").toString
    val src = s"$base/src"; val staging = s"$base/staging"
    val main = s"$base/main"; val ckpt = s"$base/ckpt"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")

    val batch1 = Seq((1L, 10.0), (2L, 20.0)).toDF("id", "v")
    batch1.write.parquet(src)
    val schema = batch1.schema

    def runOnce(): Unit = {
      val q = graft.streaming.StreamingJobs
        .stagedLoad(spark, src, schema, staging, main, Seq("id"), ckpt, clock)
      q.awaitTermination()
    }

    runOnce()
    assert(spark.read.parquet(main).count() == 2)

    // No new files: AvailableNow with the same checkpoint is a no-op.
    runOnce()
    assert(spark.read.parquet(main).count() == 2)

    // A new file overlapping on key 2: only key 3 lands.
    Seq((2L, 20.0), (3L, 30.0)).toDF("id", "v").write.mode("append").parquet(src)
    runOnce()
    val out = spark.read.parquet(main)
    assert(out.count() == 3)
    assert(out.columns.contains("date_added_utc"))

    // Checkpoint loss: the whole source replays, but the key anti-join
    // still makes it a no-op — idempotent end-to-end.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runOnce()
    assert(spark.read.parquet(main).count() == 3)
  }

  test("streaming CDC upsert: per-batch MERGE into main, idempotent under crashed-batch AND stale replays") {
    import java.nio.file.Files
    val base = Files.createTempDirectory("cdc").toString
    val src = s"$base/src"; val staging = s"$base/staging"
    val main = s"$base/main"; val ckpt = s"$base/ckpt"
    val clock = lit("2026-01-01 00:00:00").cast("timestamp")

    // CDC change stream: (id, seq, v). File 1 carries an IN-batch update
    // (id 1 twice — last-wins on seq must keep v=11); file 2 updates id 2
    // across batches and inserts id 3.
    val file1 = Seq((1L, 1L, 10.0), (1L, 2L, 11.0), (2L, 1L, 20.0)).toDF("id", "seq", "v")
    val file2 = Seq((2L, 3L, 21.0), (3L, 1L, 30.0)).toDF("id", "seq", "v")
    file1.write.parquet(src)
    file2.write.mode("append").parquet(src)

    def runStream(): Unit = {
      val q = graft.streaming.StreamingJobs.cdcUpsert(
        spark, src, file1.schema, staging, main, Seq("id"), "seq", ckpt, clock,
        maxFilesPerTrigger = Some(1))
      q.awaitTermination()
    }
    def state(): Set[(Long, Long, Double)] =
      spark.read.parquet(main).select("id", "seq", "v").as[(Long, Long, Double)].collect().toSet

    runStream()
    // The batch MERGE oracle: latest image per key by seq over the WHOLE
    // source — what one non-streaming MERGE of all the data would leave.
    val oracle = spark.read.parquet(src)
      .groupBy("id").agg(max(struct(col("seq"), col("v"))).as("m"))
      .select(col("id"), col("m.seq"), col("m.v")).as[(Long, Long, Double)].collect().toSet
    assert(oracle == Set((1L, 2L, 11.0), (2L, 3L, 21.0), (3L, 1L, 30.0)))
    assert(state() == oracle, "streamed per-batch upserts must equal the batch MERGE")
    assert(spark.read.parquet(main).columns.contains("date_added_utc"))

    // Injected replay 1: the LAST batch re-runs after a simulated crash
    // mid-commit — re-driving the foreachBatch body with the same data
    // must leave the table unchanged (equal seqs are dropped, not
    // re-merged).
    graft.streaming.StreamingJobs.cdcUpsertBatch(file2, staging, main, Seq("id"), "seq", clock)
    assert(state() == oracle, "crashed-batch replay must be a no-op")

    // Injected replay 2: a STALE batch re-delivered after newer data —
    // pure key-replacement would regress id 2 back to v=20; the seq
    // guard must drop every row.
    graft.streaming.StreamingJobs.cdcUpsertBatch(file1, staging, main, Seq("id"), "seq", clock)
    assert(state() == oracle, "stale replay must not regress newer rows")

    // Checkpoint loss: the whole source replays through the stream.
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(ckpt))
    runStream()
    assert(state() == oracle, "full-source replay after checkpoint loss must converge to the same table")
  }

  test("real JDK codec decodes actual PNG/BMP pixels; stub stays the fallback") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    // Deterministic gradient fixtures rendered in-memory — real image
    // bytes, no external files or libraries.
    def rgbAt(x: Int, y: Int): Int = ((x * 8) << 16) | ((y * 16) << 8) | ((x + y) * 4)
    def fixture(fmt: String, w: Int, h: Int): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, rgbAt(x, y))
      val baos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, baos), s"JDK must ship a $fmt writer")
      baos.toByteArray
    }
    def luma(rgb: Int): Byte =
      (((rgb >> 16 & 0xff) * 299 + (rgb >> 8 & 0xff) * 587 + (rgb & 0xff) * 114) / 1000).toByte

    // Unit level: exact geometry and the exact BT.601 pixel buffer.
    val png = fixture("png", 20, 12)
    val Some((w, h, px)) = MultimodalOps.decodeImage(png)
    assert(w == 20 && h == 12, s"decoded geometry ($w,$h)")
    val expectedPx = for (y <- 0 until 12; x <- 0 until 20) yield luma(rgbAt(x, y))
    assert(px.toSeq == expectedPx, "decoded pixels must match the rendered gradient exactly")
    // Garbage bytes: no reader → fallback signal, not an exception.
    assert(MultimodalOps.decodeImage("definitely not an image".getBytes("UTF-8")).isEmpty)

    // End to end through the Spark pipeline: real images are one frame with
    // true dimensions and features computed from TRUE pixels; a bogus
    // payload under an image mime takes the stub path.
    val bmp = fixture("bmp", 9, 7)
    val bogus = "not an image at all".getBytes("UTF-8")
    val media = Seq(
      MediaDoc(1L, png, "image/png", png.length.toLong),
      MediaDoc(2L, bmp, "image/bmp", bmp.length.toLong),
      MediaDoc(3L, bogus, "image/png", bogus.length.toLong)
    ).toDS()
    val frames = MultimodalOps
      .decodeFrames(media, frameStride = 1, targetSize = 0)
      .collect()
      .groupBy(_.doc_id)
    assert(frames(1L).length == 1 && frames(1L).head.width == 20 && frames(1L).head.height == 12)
    assert(frames(2L).length == 1 && frames(2L).head.width == 9 && frames(2L).head.height == 7)
    assert(frames(1L).head.features.toSeq ==
      MultimodalOps.featureHistogram(px).toSeq,
      "features must derive from the REAL decoded pixels")
    // Stub fallback: geometry from the stub's deterministic function.
    val (sw, sh, _) = MultimodalOps.decodeStub(bogus, 0)
    assert(frames(3L).length == MultimodalOps.frameCount(bogus.length.toLong))
    assert(frames(3L).head.width == sw && frames(3L).head.height == sh)
  }

  test("animated GIF: the real frame sequence decodes and frameStride samples it") {
    import javax.imageio.{IIOImage, ImageIO}
    import java.awt.image.BufferedImage
    // 4-frame animated GIF rendered in-memory: frame f is a constant gray
    // level 40·(f+1) — grayscale survives GIF palette quantization exactly,
    // so per-frame pixels are assertable.
    val (w, h, nFrames) = (8, 6, 4)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    for (f <- 0 until nFrames) {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = 40 * (f + 1)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (g << 16) | (g << 8) | g)
      writer.writeToSequence(new IIOImage(img, null, null), null)
    }
    writer.endWriteSequence(); ios.close(); writer.dispose()
    val gif = baos.toByteArray

    val frames = MultimodalOps.decodeImageFrames(gif)
    assert(frames.isDefined && frames.get.length == nFrames, s"expected $nFrames real frames")
    for ((f, i) <- frames.get.zipWithIndex) {
      val (fw, fh, px) = f
      assert(fw == w && fh == h)
      // BT.601 luma of gray g is g itself.
      assert(px.forall(_ == (40 * (i + 1)).toByte), s"frame $i pixels must be gray ${40 * (i + 1)}")
    }

    // Through the Spark pipeline with stride 2: frames 0 and 2 only.
    val ds = Seq(MediaDoc(7L, gif, "image/gif", gif.length.toLong)).toDS()
    val out = MultimodalOps.decodeFrames(ds, frameStride = 2, targetSize = 0)
      .collect().sortBy(_.frame_idx)
    assert(out.map(_.frame_idx).toSeq == Seq(0, 2), "stride must sample the REAL frame sequence")
    assert(out.forall(f => f.width == w && f.height == h))
    // Constant-gray frames put all histogram mass in one bin; frames 0 (40)
    // and 2 (120) land in bins 2 and 7.
    assert(out(0).features(40 >> 4) == 1.0 && out(1).features(120 >> 4) == 1.0)
  }

  test("delta-encoded GIF: composite mode plays disposal semantics, independent mode does not") {
    import javax.imageio.{IIOImage, ImageIO, ImageTypeSpecifier}
    import javax.imageio.metadata.IIOMetadataNode
    import java.awt.image.BufferedImage

    def gray(w: Int, h: Int, g: Int): BufferedImage = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (g << 16) | (g << 8) | g)
      img
    }

    // Write a GIF whose frames paint SUB-RECTANGLES of the logical screen
    // at explicit offsets with explicit disposal methods — the shape real
    // animated GIFs use for delta encoding.
    def gifWithMeta(frames: Seq[(BufferedImage, Int, Int, String)]): Array[Byte] = {
      val baos = new java.io.ByteArrayOutputStream()
      val ios = ImageIO.createImageOutputStream(baos)
      val writer = ImageIO.getImageWritersByFormatName("gif").next()
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      for ((img, left, top, disposal) <- frames) {
        val fmt = "javax_imageio_gif_image_1.0"
        val md = writer.getDefaultImageMetadata(
          ImageTypeSpecifier.createFromBufferedImageType(BufferedImage.TYPE_INT_RGB), null)
        val tree = md.getAsTree(fmt).asInstanceOf[IIOMetadataNode]
        def child(name: String): IIOMetadataNode = {
          val kids = tree.getChildNodes
          (0 until kids.getLength).map(kids.item).collectFirst {
            case n: IIOMetadataNode if n.getNodeName == name => n
          }.getOrElse { val n = new IIOMetadataNode(name); tree.appendChild(n); n }
        }
        val gce = child("GraphicControlExtension")
        gce.setAttribute("disposalMethod", disposal)
        gce.setAttribute("userInputFlag", "FALSE")
        gce.setAttribute("transparentColorFlag", "FALSE")
        gce.setAttribute("delayTime", "10")
        gce.setAttribute("transparentColorIndex", "0")
        val desc = child("ImageDescriptor")
        desc.setAttribute("imageLeftPosition", left.toString)
        desc.setAttribute("imageTopPosition", top.toString)
        desc.setAttribute("imageWidth", img.getWidth.toString)
        desc.setAttribute("imageHeight", img.getHeight.toString)
        desc.setAttribute("interlaceFlag", "FALSE")
        md.setFromTree(fmt, tree)
        writer.writeToSequence(new IIOImage(img, null, md), null)
      }
      writer.endWriteSequence(); ios.close(); writer.dispose()
      baos.toByteArray
    }

    val (wd, ht) = (8, 6)
    val gif = gifWithMeta(Seq(
      (gray(wd, ht, 40), 0, 0, "doNotDispose"),          // full base frame
      (gray(4, 2, 120), 2, 1, "doNotDispose"),           // delta patch
      (gray(2, 2, 200), 0, 0, "restoreToBackgroundColor"), // patch, then cleared
      (gray(1, 1, 80), 7, 5, "none")                     // corner dot
    ))

    // Independent mode: frame 1 is just its own 4x2 patch — the
    // misleading-luma shape the composite flag exists for.
    val indep = MultimodalOps.decodeImageFramesSampled(gif, 1, composite = false).get
    assert(indep.length == 4)
    assert(indep(1)._2 == 4 && indep(1)._3 == 2, "independent decode keeps the raw patch geometry")
    assert(indep(1)._4.forall(_ == 120.toByte))

    // Composite mode: every snapshot is the 8x6 canvas with playback
    // semantics applied. Expected canvases simulated directly.
    val comp = MultimodalOps.decodeImageFramesSampled(gif, 1, composite = true).get
    assert(comp.length == 4 && comp.forall(f => f._2 == wd && f._3 == ht),
      "composited frames must all be logical-screen sized")
    val canvas = Array.fill[Byte](wd * ht)(0)
    def paint(l: Int, t: Int, w: Int, h: Int, v: Int): Unit =
      for (y <- t until t + h; x <- l until l + w) canvas(y * wd + x) = v.toByte
    paint(0, 0, 8, 6, 40)
    assert(comp(0)._4.toSeq == canvas.toSeq, "frame 0: full base")
    paint(2, 1, 4, 2, 120)
    assert(comp(1)._4.toSeq == canvas.toSeq, "frame 1: delta composited over base")
    paint(0, 0, 2, 2, 200)
    assert(comp(2)._4.toSeq == canvas.toSeq, "frame 2: patch visible in its own snapshot")
    paint(0, 0, 2, 2, 0) // restoreToBackgroundColor clears frame 2's rect
    paint(7, 5, 1, 1, 80)
    assert(comp(3)._4.toSeq == canvas.toSeq, "frame 3: frame 2's rect disposed to background")

    // Stride still samples the composited sequence by original index.
    val strided = MultimodalOps.decodeImageFramesSampled(gif, 2, composite = true).get
    assert(strided.map(_._1) == Vector(0, 2))
    assert(strided(1)._4.toSeq == comp(2)._4.toSeq)

    // And through the Spark pipeline with composite on: geometry is the
    // canvas for every frame.
    val ds = Seq(MediaDoc(9L, gif, "image/gif", gif.length.toLong)).toDS()
    val out = MultimodalOps.decodeFrames(ds, frameStride = 1, targetSize = 0, composite = true)
      .collect().sortBy(_.frame_idx)
    assert(out.length == 4 && out.forall(f => f.width == wd && f.height == ht))
  }

  test("resize preserves constant images and is exact on integer scale factors") {
    val flat = Array.fill(24 * 24)(7.toByte)
    val r = MultimodalOps.resize(flat, 24, 24, 32, 32)
    assert(r.length == 32 * 32 && r.forall(_ == 7.toByte))
    // 2x2 checkerboard upscaled 2x: each source pixel becomes a 2x2 block.
    val checker = Array[Byte](0, 1, 1, 0)
    val up = MultimodalOps.resize(checker, 2, 2, 4, 4)
    assert(up.toSeq == Seq[Byte](0, 0, 1, 1, 0, 0, 1, 1, 1, 1, 0, 0, 1, 1, 0, 0))
  }

  test("stateful sessionize matches the window-based batch formulation") {
    val evs = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[SessionEvent]
    val stateful = StreamingJobs
      .sessionize(evs, gapMinutes = 30)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")

    val windowed = QueryRegistry
      .queries("q_stream_sessionize")(spark, sfDir)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")

    assert(stateful.count() == windowed.count())
    assert(stateful.exceptAll(windowed).isEmpty && windowed.exceptAll(stateful).isEmpty,
      "flatMapGroupsWithState sessionization must be row-identical to the oracled window form")
  }

  test("batch sessionization (q_sessionize_batch, 6h gap) equals the stateful streaming twin") {
    // The same gap rule must yield the same sessions whether computed as the
    // batch backfill (two windows + groupBy) or by the streaming state
    // machine — parameterized at q_sessionize_batch's 6-hour threshold
    // (the 30m test above covers q_stream_sessionize's).
    val evs = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("event_id"), col("ts"))
      .as[SessionEvent]
    val stateful = StreamingJobs
      .sessionize(evs, gapMinutes = 360)
      .select(
        col("user_id"), col("session_id"), col("n_events"),
        col("session_start").as("start_ts"), col("session_end").as("end_ts"),
        (unix_micros(col("session_end")) - unix_micros(col("session_start"))).as("duration_us"))
    val batch = QueryRegistry.queries("q_sessionize_batch")(spark, sfDir)
    assert(stateful.count() == batch.count())
    assert(stateful.exceptAll(batch).isEmpty && batch.exceptAll(stateful).isEmpty,
      "batch gap-and-island sessions must equal the streaming state machine's at the same gap")
  }

  // q_stream_drift restates q_drift_psi, and q_stream_chi2 restates
  // q_drift_chi2, per micro-batch from bounded streaming counts joined to
  // the batch-fitted reference artifact; each pair shares one report
  // function (DriftReports). On AvailableNow bounded input the final
  // report must be row-identical to the batch monitor — same cuts (rounded
  // 6 dp), same smoothing, same fixed-point term sums (order-free by
  // design, so micro-batch partitioning cannot move a bit).
  for ((stream, batchQ, report) <- Seq(
      ("q_stream_drift", "q_drift_psi", "PSI"),
      ("q_stream_chi2", "q_drift_chi2", "chi2")))
    test(s"streaming drift monitor equals the batch $report report on bounded input") {
      val streamed = QueryRegistry.queries(stream)(spark, sfDir)
      val batch = QueryRegistry.queries(batchQ)(spark, sfDir)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
        s"streamed $report report must equal the batch drift monitor on bounded input")
    }

  test("the dual drift monitor: PSI equals the batch monitor; binned KS never exceeds exact KS") {
    // q_stream_drift_ks ships PSI and binned KS from ONE (type, bin) state
    // store. Batch≡stream for the PSI half: its psi/alert columns must be
    // row-identical to q_drift_psi (same cuts, smoothing, fixed-point
    // machinery — the q_stream_drift claim extended). For the KS half the
    // binding batch claim is the theorem: the binned statistic evaluates
    // the CDF diff on a SUBSET of the exact statistic's evaluation points,
    // so ks_binned ≤ q_drift_ks's exact D per type, always.
    val dual = QueryRegistry.queries("q_stream_drift_ks")(spark, sfDir)
    val psiBatch = QueryRegistry.queries("q_drift_psi")(spark, sfDir)
      .select(
        col("event_type"), col("n_ref"), col("n_cur"), col("psi"),
        col("drift_alert").as("psi_alert"))
    val psiStream = dual.select("event_type", "n_ref", "n_cur", "psi", "psi_alert")
    assert(psiStream.count() == psiBatch.count())
    assert(psiStream.exceptAll(psiBatch).isEmpty && psiBatch.exceptAll(psiStream).isEmpty,
      "the dual monitor's PSI half must equal the batch drift monitor on bounded input")
    val exact = QueryRegistry.queries("q_drift_ks")(spark, sfDir)
      .select(col("event_type"), col("ks").as("ks_exact"))
    val bad = dual.select(col("event_type"), col("ks_binned"))
      .join(exact, Seq("event_type"))
      // Both sides round 6 dp; one ulp of slack for the rounding boundary.
      .filter(col("ks_binned") > col("ks_exact") + lit(1e-9))
    assert(bad.isEmpty, s"binned KS exceeded exact KS: ${bad.collect().mkString(", ")}")
  }

  test("stream-static enrichment equals the batch join-aggregate; the dimension broadcasts") {
    // q_stream_enrich joins the event stream against a static nation
    // dimension broadcast into every micro-batch. On bounded AvailableNow
    // input the streamed result must equal the batch formulation of the
    // SAME join-aggregate, bit-for-bit (decimal-accumulated sum).
    val streamed = QueryRegistry.queries("q_stream_enrich")(spark, sfDir)
    val dim = spark.read.parquet(s"$sfDir/nation.parquet").select("n_nationkey", "n_name")
    val batch = Tables
      .events(spark, sfDir)
      .select(col("user_id"), col("value"))
      .withColumn("nkey", col("user_id") % 25)
      .join(org.apache.spark.sql.functions.broadcast(dim), col("nkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(25,10)")).cast("double").as("total_value"))
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streamed enrichment must equal the batch join-aggregate on bounded input")
    // The dimension side must broadcast IN THE MICRO-BATCH PLAN — asserted
    // on the production stream's own lastExecution (r12 advice: the batch
    // formulation above proves values, not what the stream planned; a
    // stream that silently sort-merges would shuffle every micro-batch).
    // lastExecution is reached reflectively: StreamingQueryWrapper /
    // StreamExecution are private[sql], and this is the one public-ish
    // seam that exposes the IncrementalExecution after termination.
    import java.nio.file.Files
    val base = Files.createTempDirectory("enrichplan").toString
    val q = StreamQueries.startEnrichStream(spark, sfDir, s"$base/out", s"$base/ckpt")
    q.awaitTermination()
    val exec = q.getClass.getMethod("streamingQuery").invoke(q)
    val lastExec = exec.getClass.getMethod("lastExecution").invoke(exec)
    val p = lastExec.getClass.getMethod("executedPlan").invoke(lastExec).toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"dimension join must broadcast in the streaming micro-batch plan:\n$p")
  }

  test("stream-stream outer join: unmatched rows emit exactly once, only after watermark expiry") {
    // Surgical two-phase arrival through the PRODUCTION stream
    // (StreamQueries.startOuterJoinStream), proving the defining outer-join
    // semantics the oracle's end-state equality can't distinguish:
    //   u1: click + purchase 30 min later → matched pair, emits in run 1;
    //   u2: click at t0, never purchases → its 1 h window CLOSES under
    //       run 1's own watermark (u3's click and u9's clickless purchase
    //       at t0+3h drive BOTH sides' watermarks to t0+2h — the joint
    //       watermark is the min across sides, so the purchase side needs
    //       its own late event) → null row emits in run 1, organically;
    //   u3: click at t0+3h, never purchases → window still open at the
    //       end of run 1 → WITHHELD (emitting it early would be wrong: a
    //       purchase could still arrive);
    // run 2 appends only the far-future flush row under the SAME
    // checkpoint → u3's null row emits, and u2's does NOT re-emit.
    import java.nio.file.Files
    val base = Files.createTempDirectory("souterph").toString
    val (src, out, ckpt) = (s"$base/src", s"$base/out", s"$base/ckpt")
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val phase1 = Seq(
      (10L, 1L, "click", ts("2024-01-01 00:00:00")),
      (11L, 1L, "purchase", ts("2024-01-01 00:30:00")),
      (12L, 2L, "click", ts("2024-01-01 00:00:00")),
      (13L, 3L, "click", ts("2024-01-01 03:00:00")),
      (14L, 9L, "purchase", ts("2024-01-01 03:00:00"))
    ).toDF("event_id", "user_id", "event_type", "ts")
    phase1.coalesce(1).write.parquet(src)

    Engine.withConf(spark, "spark.sql.streaming.noDataMicroBatches.enabled" -> "true") {
      val q1 = StreamQueries.startOuterJoinStream(spark, src, out, ckpt)
      q1.awaitTermination()
      val r1 = spark.read.parquet(out).collect()
      assert(r1.length == 2, s"run 1 must emit exactly the matched pair + u2's expired null row, got ${r1.toSeq}")
      assert(r1.exists(r => r.getLong(0) == 1L && r.getLong(2) == 11L), "u1's click must match its purchase")
      assert(r1.exists(r => r.getLong(0) == 2L && r.isNullAt(2)), "u2's closed window must null-emit in run 1")
      assert(!r1.exists(r => r.getLong(0) == 3L), "u3's window is still open — emitting it early is a bug")

      // Phase 2: ONLY the flush sentinel arrives; same checkpoint.
      Seq((-1L, -1L, "flush", ts("2024-02-01 00:00:00")))
        .toDF("event_id", "user_id", "event_type", "ts")
        .coalesce(1).write.mode("append").parquet(src)
      val q2 = StreamQueries.startOuterJoinStream(spark, src, out, ckpt)
      q2.awaitTermination()
      val r2 = spark.read.parquet(out).filter(col("click_id") =!= -1L).collect()
      assert(r2.length == 3, s"run 2 must add exactly u3's null row, got ${r2.toSeq}")
      assert(r2.exists(r => r.getLong(0) == 3L && r.isNullAt(2)), "u3 must null-emit once the watermark closes it")
      assert(r2.count(r => r.getLong(0) == 2L) == 1, "u2's null row must NOT re-emit across the restart")
    }
  }

  test("bounded-state streaming dedup: dropDuplicatesWithinWatermark matches DISTINCT") {
    // q_stream_dedup's dropDuplicates holds every key forever — correct on
    // bounded input, unbounded state on an unbounded stream. The
    // deployment form is dropDuplicatesWithinWatermark: state evicts once
    // the watermark passes, bounding the store to the delay window. With a
    // delay spanning the whole (bounded) fixture the result must equal the
    // exact DISTINCT, which is what this pins.
    import java.nio.file.Files
    val base = Files.createTempDirectory("wmdedup").toString
    val evs = Tables.events(spark, sfDir)
      .filter(col("user_id") < 50)
      .select(col("user_id"), col("event_type"), col("ts"))
    evs.write.parquet(s"$base/src")

    val q = spark.readStream
      .schema(evs.schema)
      .parquet(s"$base/src")
      .withWatermark("ts", "3650 days")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select("user_id", "event_type")
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$base/out")
    val exact = evs.select("user_id", "event_type").distinct()
    assert(streamed.count() == exact.count())
    assert(streamed.exceptAll(exact).isEmpty && exact.exceptAll(streamed).isEmpty)
  }

  test("streaming sessionize: late in-session merge, mid-stream timeout, counter survives flush") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("ssess2").toString
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val day = 86400L * 1000000L

    // One slice per micro-batch. u1/u2 session at 10:00; a LATE u1 event
    // (10:02) arrives a batch later and must merge WITHOUT moving the
    // session end backwards; u99 pushes the watermark so u1/u2's sessions
    // flush via EventTimeTimeout mid-stream (leaving counter markers);
    // when u1/u2 return at day+60 their sessions must number 2, not 1.
    val slices: Seq[Seq[(Long, Long, java.sql.Timestamp)]] = Seq(
      Seq((1L, 1L, ts("2024-01-01 10:00:00")), (1L, 2L, ts("2024-01-01 10:05:00")),
        (2L, 3L, ts("2024-01-01 10:00:00"))),
      Seq((1L, 4L, ts("2024-01-01 10:02:00"))), // late, inside the open session
      Seq((99L, 5L, ts("2024-01-31 10:00:00"))), // watermark push
      Seq((99L, 6L, ts("2024-02-01 10:00:00"))), // timeouts for u1/u2 fire here
      Seq((1L, 7L, ts("2024-03-01 10:00:00")), (2L, 8L, ts("2024-03-01 10:00:00"))),
      Seq((-1L, 9L, ts("2025-06-01 00:00:00"))) // sentinel: flush the rest
    )
    slices.zipWithIndex.foreach { case (rows, i) =>
      val tmp = s"$base/slice$i"
      rows.toDF("user_id", "event_id", "ts").coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"$i%02d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      require(dst.toFile.setLastModified(1700000000000L + i * 60000L),
        s"setLastModified unsupported on $dst: cannot pin arrival order")
    }

    val schema = spark.read.parquet(s"$srcDir/00.parquet").schema
    val stream = spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(srcDir)
      .as[SessionEvent]
    val q = StreamingJobs
      .sessionizeStream(stream, gapMinutes = 30, watermarkDelay = "1 hour",
        counterRetentionGaps = 10000) // retention covers the day+60 returns
      .writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val out = spark.read.parquet(s"$base/out")
      .filter(col("user_id") > 0)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
      .as[(Long, Long, Long, java.sql.Timestamp, java.sql.Timestamp)]
      .collect()
      .toSet
    val expected = Set(
      // u1 session 1 absorbed the late 10:02 event; end stayed 10:05.
      (1L, 1L, 3L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:05:00")),
      (2L, 1L, 1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:00:00")),
      // Post-timeout returns continue the numbering at 2.
      (1L, 2L, 1L, ts("2024-03-01 10:00:00"), ts("2024-03-01 10:00:00")),
      (2L, 2L, 1L, ts("2024-03-01 10:00:00"), ts("2024-03-01 10:00:00")),
      (99L, 1L, 1L, ts("2024-01-31 10:00:00"), ts("2024-01-31 10:00:00")),
      (99L, 2L, 1L, ts("2024-02-01 10:00:00"), ts("2024-02-01 10:00:00"))
    )
    assert(out == expected, s"got:\n${out.toSeq.sortBy(r => (r._1, r._2)).mkString("\n")}")
  }

  test("sessionize in TRUE streaming mode: EventTimeTimeout flushes match the batch form") {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val base = Files.createTempDirectory("ssess").toString
    val srcDir = s"$base/src"; Files.createDirectories(Paths.get(srcDir))

    // Bounded fixture: a subset of users, sliced into 3 time-ordered files
    // so open sessions must survive micro-batch boundaries in the state
    // store, plus a far-future sentinel event (user -1) whose arrival
    // advances the watermark past every real session's end + gap — firing
    // the EventTimeTimeout path for every user.
    val evs = Tables.events(spark, sfDir)
      .filter(col("user_id") < 30)
      .select(col("user_id"), col("event_id"), col("ts"))
    val (minUs, maxUs) = evs
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .as[(Long, Long)].head()
    val cut1 = minUs + (maxUs - minUs) / 3
    val cut2 = minUs + 2 * (maxUs - minUs) / 3
    val sentinelUs = maxUs + 800L * 86400L * 1000000L
    val slices = Seq(
      evs.filter(unix_micros(col("ts")) <= cut1),
      evs.filter(unix_micros(col("ts")) > cut1 && unix_micros(col("ts")) <= cut2),
      evs.filter(unix_micros(col("ts")) > cut2),
      Seq((-1L, -1L)).toDF("user_id", "event_id")
        .select(col("user_id"), col("event_id"), timestamp_micros(lit(sentinelUs)).as("ts"))
    )
    slices.zipWithIndex.foreach { case (df, i) =>
      val tmp = s"$base/slice$i"
      df.coalesce(1).write.parquet(tmp)
      val part = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      val dst = Paths.get(srcDir, f"$i%02d.parquet")
      Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
      // Oldest-first pickup order: FileStreamSource sorts by mod time.
      require(dst.toFile.setLastModified(1700000000000L + i * 60000L),
        s"setLastModified unsupported on $dst: cannot pin arrival order")
    }

    val stream = spark.readStream
      .schema(evs.schema)
      .option("maxFilesPerTrigger", "1") // one slice per micro-batch
      .parquet(srcDir)
      .as[SessionEvent]
    // Watermark delay spans the whole fixture so no session times out
    // mid-stream (session_id numbering stays cumulative); the sentinel then
    // pushes the watermark past all of them at once.
    val out = StreamingJobs.sessionizeStream(stream, gapMinutes = 30, watermarkDelay = "365 days")
    val q = out.writeStream
      .format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination()

    val streamed = spark.read.parquet(s"$base/out")
      .filter(col("user_id") >= 0)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")
    val batch = StreamingJobs.sessionize(evs.as[SessionEvent], gapMinutes = 30)
      .select("user_id", "session_id", "n_events", "session_start", "session_end")

    assert(streamed.count() == batch.count(), "every session must flush (gap-closed or timed out)")
    assert(streamed.exceptAll(batch).isEmpty && batch.exceptAll(streamed).isEmpty,
      "streaming-mode sessions (incl. EventTimeTimeout flushes) must equal the batch form")
  }
}
