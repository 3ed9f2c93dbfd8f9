package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.data.Synth
import graft.functions.ImageExpressions._
import graft.functions.PqExpressions
import graft.model.ModelBundle
import graft.operators.Similarity
import graft.pipeline.FeaturePipeline
import graft.temporal.Temporal

/**
 * Image-pipeline queries for the driver contract. These operate on the
 * deterministic synthetic image table (no external data; TESTDATA has no
 * image table) — so they are rows-only checks for the driver; their real
 * correctness gate is the scalar-oracle ScalaTest suite (SURVEY.md §5).
 */
object ImageQueries {

  /** Synthetic row count per scale dir (keeps Verify/Bench runtimes sane). */
  private def nFor(dir: String): Long =
    if (dir.contains("sf0.1")) 1200L
    else if (dir.contains("sf0.01")) 400L
    else 120L

  // One pipeline materialization per (session, dir): the three downstream
  // queries share features + bundles.
  final case class Cached(features: DataFrame, bundles: Map[Int, ModelBundle])
  private val cache = scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Cached]

  def pipeline(s: SparkSession, dir: String): Cached =
    cache.getOrElseUpdate((s, dir), {
      val n = nFor(dir)
      val images = Synth.imageTable(s, n).cache()
      // fewer Lloyd iterations than the test suite's default: model quality is
      // irrelevant to these rows-only checks, verify wall-clock is not
      val (modelDf, bundles) = Synth.mintModels(s, images, n, iterations = 4)
      // F1 extension filter, then point-in-time model binding (J4 north rule)
      val bound = Temporal.asOfJoin(
        images.where(col("fmt").isin("png", "jpeg")),
        modelDf, leftTs = "ts", rightTs = "valid_from")
      val features = FeaturePipeline
        .featurize(bound, bundles, Synth.defaultConfig)
        .persist()
      features.count() // materialize once
      images.unpersist()
      Cached(features, bundles)
    })

  private val queryId = "img_00000002"

  /** The PQ queries' fixed query image: its vector, its bundle, and the other
    * error-free rows encoded under the same model version — codes from the
    * other version's quantizers are not comparable with this version's
    * tables. */
  private def imageQuery(c: Cached): (Array[Double], ModelBundle, DataFrame) = {
    val feats = c.features.where(col("error").isNull)
    val q = feats.where(col("image_id") === queryId)
      .select("vector", "model_version").head()
    (q.getSeq[Double](0).toArray, c.bundles(q.getInt(1)),
      feats.where(col("model_version") === q.getInt(1) && col("image_id") =!= queryId))
  }

  private def sqL2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, v) => acc + v)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Catalyst-native decode + scale + phash expressions (P1/P2 + input col).
    "q_image_decode" -> ((s, dir) => {
      val images = Synth.imageTable(s, nFor(dir))
      images
        .withColumn("img", decode_image(col("bytes")))
        .where(col("img").isNotNull)
        .withColumn("scaled", scale_max_pixels(col("img"), lit(100000L)))
        .select(col("image_id"),
          col("img.w").as("decoded_w"), col("img.h").as("decoded_h"),
          col("scaled.w").as("scaled_w"), col("scaled.h").as("scaled_h"),
          phash64(col("img")).as("phash_computed"))
        .orderBy("image_id")
    }),

    // Deterministic training-data augmentation: each image explodes into
    // flip / rotate / center-crop / seeded-crop variants (the multiplier a
    // vision training pipeline applies before feature extraction). Variant
    // geometry and per-variant phash ride in the rows, so a broken kernel
    // changes visible output; the seeded crop keys on image_id — exactly
    // reproducible run-to-run (ImagingSpec pins the kernels pixel-level).
    "q_image_augment" -> ((s, dir) => {
      val images = Synth.imageTable(s, nFor(dir))
      images
        .withColumn("img", decode_image(col("bytes")))
        .where(col("img").isNotNull)
        .select(col("image_id"), explode(array(
          struct(lit("orig").as("variant"), col("img").as("v")),
          struct(lit("flip_h").as("variant"), img_flip_h(col("img")).as("v")),
          struct(lit("rot90").as("variant"),
            img_rotate90(col("img"), lit(1)).as("v")),
          struct(lit("center_crop").as("variant"),
            img_center_crop(col("img"), lit(64), lit(64)).as("v")),
          struct(lit("seeded_crop").as("variant"),
            img_seeded_crop(col("img"), lit(64), lit(64),
              xxhash64(col("image_id"))).as("v")))).as("a"))
        .select(col("image_id"), col("a.variant").as("variant"),
          col("a.v.w").as("w"), col("a.v.h").as("h"),
          phash64(col("a.v")).as("phash"))
        .orderBy("image_id", "variant")
    }),

    // Flagship end-to-end: decode→extract→VLAD→PCA→PQ with as-of-bound models.
    "q_image_pipeline" -> ((s, dir) => {
      pipeline(s, dir).features
        .select(col("image_id"), col("model_version"), col("list_id"),
          col("n_descriptors"),
          round(sqrt(aggregate(transform(col("vector"), x => x * x),
            lit(0.0), (acc, v) => acc + v)), 6).as("vec_norm"),
          col("error"))
        .orderBy("image_id")
    }),

    // Zero-leakage diagnostic: per model version, the bound ts range (v2 rows
    // must all be ≥ v2.valid_from; asserted exactly in ScalaTest).
    "q_image_model_binding" -> ((s, dir) => {
      pipeline(s, dir).features
        .groupBy(col("model_version"))
        .agg(count(lit(1)).as("n_images"),
          min(col("ts")).cast("long").as("min_ts_epoch"),
          max(col("ts")).cast("long").as("max_ts_epoch"))
        .orderBy("model_version")
    }),

    // Exhaustive k-NN over the PCA feature vectors (T1 Linear shape:
    // broadcast queries → narrow scan → map-side bounded heap per query,
    // ds/Linear.java:138–163 — no window shuffle of the scored cross product).
    "q_image_knn" -> ((s, dir) => {
      val feats = pipeline(s, dir).features.where(col("error").isNull)
        .select(col("image_id"), col("vector"))
      val queries = broadcast(feats
        .where(col("image_id").isin("img_00000002", "img_00000004", "img_00000007"))
        .select(col("image_id").as("query_id"), col("vector").as("qv")))
      val scored = queries.join(feats, col("query_id") =!= col("image_id"))
        .select(col("query_id"), col("image_id").as("neighbor_id"),
          round(sqL2(col("qv"), col("vector")), 9).as("dist"))
      Similarity.topKPerGroup(scored, Seq("query_id"), "dist", "neighbor_id",
        k = 5, ascending = true)
        .select("query_id", "neighbor_id", "dist", "rank")
        .orderBy("query_id", "rank")
    }),

    // PQ ADC k-NN (T2): IVFADC search with every list probed — per-list LUTs
    // of the residual-transformed query (ds/IVFPQ.java:408–450) ride in ONE
    // broadcast read by the search's scan tasks, which keep a bounded heap
    // per query; the scan reads only (id, list_id, pq_code), never vectors,
    // and no plan holds LUT literals.
    "q_image_adc_knn" -> ((s, dir) => {
      val (qv, bundle, rows) = imageQuery(pipeline(s, dir))
      Similarity.ivfPqSearchMany(rows, "image_id", Seq(0L -> qv),
          bundle.coarseQuantizer, bundle.pq, k = 5,
          nprobe = bundle.coarseQuantizer.length, transform = bundle.transform)
        .select(col("neighbor_id"), round(col("adc_dist"), 9).as("adc_dist"),
          col("list_id"))
        .orderBy("adc_dist", "neighbor_id")
    }),

    // PQ SDC k-NN (T3, ds/PQ.java:334–374): the query is an already-indexed
    // id; distance = Σ_j sdcTable[j][codeQ_j][codeC_j] over stored codes only
    // (no vectors touched on either side). Expressed as adc_distance with the
    // LUT rows pre-selected by the query's code. The reference runs SDC on a
    // plain PQ index; over an IVFPQ snapshot the codes are residual-space, so
    // cross-list distances are the same approximation the reference makes
    // when PQ (not IVFPQ) indexes raw vectors. Gated by KernelsSpec
    // sdcDistance parity + PipelineSpec scalar cross-check.
    "q_image_sdc_knn" -> ((s, dir) => {
      val c = pipeline(s, dir)
      val feats = c.features.where(col("error").isNull)
      val queryRow = feats.where(col("image_id") === queryId)
        .select("pq_code", "model_version").head()
      val qCode = queryRow.getSeq[Int](0).toArray
      val bundle = c.bundles(queryRow.getInt(1))
      val sdc = graft.kernels.Kernels.sdcTable(bundle.pq)
      // LUT[j][c] = sdcTable[j][qCode_j][c] — SDC as a one-row ADC table
      val lut = Array.tabulate(bundle.pq.numSubVectors)(j => sdc(j)(qCode(j)))
      val dist = PqExpressions.adc_distance(col("pq_code"), lit(0),
        s.sparkContext.broadcast(Map(0 -> lut)))
      feats.where(col("image_id") =!= queryId &&
          col("model_version") === queryRow.getInt(1))
        .withColumn("sdc_dist", round(dist, 9))
        .orderBy(col("sdc_dist").asc, col("image_id").asc)
        .limit(5)
        .select(col("image_id").as("neighbor_id"), col("sdc_dist"), col("list_id"))
    }),

    // Pair-distance point query (T6, ds/IVFPQ.java:464–497
    // computeDistanceIVFADC): query VECTOR vs a set of indexed ids — the query
    // is residual-quantized to EACH target's coarse list, so the distance is
    // adc_distance with the per-list LUT map selected by the target's list_id.
    "q_image_pair_dist" -> ((s, dir) => {
      val (qv, bundle, rows) = imageQuery(pipeline(s, dir))
      val luts = bundle.coarseQuantizer.indices
        .map(li => li -> bundle.ivfPq.lut(qv, li)).toMap
      val dist = PqExpressions.adc_distance(col("pq_code"), col("list_id"),
        s.sparkContext.broadcast(luts))
      rows.where(col("image_id").isin(
          "img_00000004", "img_00000007", "img_00000010", "img_00000012"))
        .withColumn("pair_dist", round(dist, 9))
        .select(col("image_id"), col("pair_dist"), col("list_id"))
        .orderBy("image_id")
    }),

    // Multimodal audio column: real RIFF/WAVE PCM16 parse + amplitude stats
    // over an opaque binary column; corrupt bytes → null row-local (the same
    // error-channel seam as decode_image). Oracle-checked: the WAVs are
    // synthesized from closed-form parameters, so the DuckDB oracle replays
    // synthesis + stats arithmetic without parsing any bytes.
    "q_audio_stats" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.MediaExpressions
      val clips = s.range(0, 64).map { i =>
        val bytes =
          if (i == 1L) Array[Byte](9, 9, 9, 9) // corrupt
          else {
            val sr = 8000
            val n = 400 + (i % 5).toInt * 100
            val freq = 100.0 + (i % 7) * 50.0
            MediaExpressions.encodeWavPcm16(sr, 1, Array.tabulate(n)(t =>
              (math.sin(2 * math.Pi * freq * t / sr) * 12000).toShort))
          }
        (f"aud_$i%04d", bytes)
      }.toDF("clip_id", "bytes")
      clips
        .withColumn("stats", MediaExpressions.audio_pcm_stats(col("bytes")))
        .select(col("clip_id"),
          col("stats.sample_rate"), col("stats.n_samples"),
          round(col("stats.rms"), 6).as("rms"),
          round(col("stats.peak"), 6).as("peak"),
          col("stats").isNull.as("is_corrupt"))
        .orderBy("clip_id")
    }),

    // Multimodal video column: every-nth frame sampling — REAL RIFF-AVI
    // demux with end-to-end MJPEG frame decode, plus the toy GVID seam.
    // Oracle-checked: the corpus is synthesized from closed-form parameters,
    // so the DuckDB oracle states the expected demux + decode counts.
    "q_video_frames" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.{ImageExpressions, MediaExpressions}
      // mixed corpus: REAL MJPEG-AVI rows (even ids — demuxed by the
      // spec-conformant RIFF walker, every sampled payload is a standalone
      // JPEG the image decoder then decodes), toy-GVID rows (odd ids), one
      // corrupt row. Exercises demux → frame-slice → decode end-to-end.
      val vids = s.range(0, 48).map { i =>
        val bytes =
          if (i == 2L) Array[Byte](1, 2, 3) // corrupt
          else if (i % 2 == 0L) {
            val jpegs = Seq.tabulate((i % 6).toInt + 1)(f =>
              graft.kernels.Imaging.encodeJpeg(
                graft.kernels.Imaging.syntheticRaster(11L, i * 31 + f, 24, 16)))
            MediaExpressions.encodeAviMjpeg(jpegs, width = 24, height = 16)
          } else MediaExpressions.encodeGvid(Seq.tabulate((i % 6).toInt + 1)(f =>
            Array.fill(16 + f)(((i + f) % 127).toByte)))
        (f"vid_$i%04d", bytes)
      }.toDF("video_id", "bytes")
      vids
        .withColumn("frames",
          MediaExpressions.video_frame_sample(col("bytes"), everyN = 2))
        .select(col("video_id"), col("bytes"),
          col("frames").isNull.as("is_corrupt"),
          explode_outer(col("frames")).as("fr"))
        .withColumn("payload", expr("substring(bytes, fr.offset + 1, fr.size)"))
        .withColumn("decoded", ImageExpressions.decode_image(col("payload")))
        .groupBy("video_id")
        .agg(count(col("fr")).cast("int").as("n_sampled"),
          count(col("decoded")).cast("int").as("n_decoded"),
          first(col("is_corrupt")).as("is_corrupt"))
        .orderBy("video_id")
    }),

    // SURF-style extraction (P5, ext/SURFExtractor.java:44–59 — our own
    // Fast-Hessian + 64-d Haar descriptor, SurfLiteExtractor): per-image
    // keypoint/descriptor stats over larger structured rasters.
    // Perceptual near-dup pairs directly on the 64-bit phash column
    // (Dedup.hammingPairs64: chunk banding, pigeonhole recall, hot-bucket
    // cap, exact Hamming verify) — the image twin of the text SimHash dedup.
    // The synthetic hot phash (~20% of rows share one value, the north-rule
    // skew) exercises the capped-bucket path.
    "q_image_phash_neardup" -> ((s, dir) => {
      val images = Synth.imageTable(s, nFor(dir))
      graft.operators.Dedup.hammingPairs64(images, "image_id", "phash",
        maxHamming = 3, chunks = 4, maxBucket = 1000)
        .orderBy("id_a", "id_b")
    }),

    // dHash near-dup over DECODED pixels (not the synth phash column):
    // exact copies are planted (hamming 0 — must pair; the spec-level
    // brightness-shift gate lives in ImagingSpec where pixel edits are
    // controlled). The smooth synthetic content also collides naturally at
    // the 8×8 cell granularity — exactly the behavior a perceptual hash is
    // for; the hot-bucket cap bounds those clusters. Same generalized
    // banding/cap/verify core as phash/simhash.
    "q_image_dhash_neardup" -> ((s, dir) => {
      import graft.functions.ImageExpressions.{decode_image, dhash64}
      val images = Synth.imageTable(s, nFor(dir))
        .where(col("fmt").isin("png", "jpeg"))
        .select(col("image_id"), decode_image(col("bytes")).as("img"))
        .where(col("img").isNotNull)
      val planted = images.where(pmod(xxhash64(col("image_id")), lit(5)) === 0)
      val hashed = images
        .unionByName(planted.select(
          concat(col("image_id"), lit("_copy")).as("image_id"), col("img")))
        .select(col("image_id"), dhash64(col("img")).as("dhash"))
      graft.operators.Dedup.hammingPairs64(hashed, "image_id", "dhash",
        maxHamming = 3, chunks = 4, maxBucket = 1000)
        .orderBy("id_a", "id_b")
    }),

    // The LAION-style image-dedup composition end-to-end: perceptual-hash
    // pairs → connected components → keep the HIGHEST-RESOLUTION member of
    // every near-dup cluster (keepBestRepresentatives, score = pixel count).
    // Planted downscaled copies (same scene, a quarter the pixels) that band
    // with their originals ALWAYS lose — pixel count is strictly smaller; a
    // small tail whose hash drifts past the hamming radius stays singleton
    // (the standard radius/recall tradeoff, ~90% grouped at driver scale).
    // Text and image dedup share the same group/keep machinery — only the
    // signature differs.
    "q_image_dedup_keep" -> ((s, dir) => {
      import graft.functions.ImageExpressions.{decode_image, dhash64, scale_max_pixels}
      val images = Synth.imageTable(s, nFor(dir))
        .where(col("fmt").isin("png", "jpeg"))
        .select(col("image_id"), decode_image(col("bytes")).as("img"))
        .where(col("img").isNotNull)
      // plant downscaled variants: same scene, fewer pixels
      val planted = images.where(pmod(xxhash64(col("image_id")), lit(4)) === 0)
        .select(concat(col("image_id"), lit("_small")).as("image_id"),
          scale_max_pixels(col("img"),
            ((col("img.w").cast("long") * col("img.h")) / 4).cast("long"))
            .as("img"))
      // the decoded stage feeds the signature pass, the score join AND the
      // final anti-join — persist it once (decode dominates this query)
      val all = images.unionByName(planted)
        .select(col("image_id"), dhash64(col("img")).as("dhash"),
          (col("img.w").cast("long") * col("img.h")).as("n_pixels"))
      graft.operators.Dedup.withPersistedStage(all) { a =>
        val pairs = graft.operators.Dedup.hammingPairs64(
          a.select("image_id", "dhash"),
          "image_id", "dhash", maxHamming = 3, chunks = 4, maxBucket = 1000)
        val groups = graft.operators.Dedup.connectedComponents(pairs)
        graft.operators.Dedup.keepBestRepresentatives(
          a.select("image_id", "n_pixels"), "image_id", groups,
          col("n_pixels"))
      }.orderBy("image_id")
    }),

    "q_image_surf" -> ((s, dir) => {
      import s.implicits._
      val ex = graft.extract.SurfLiteExtractor(detectThreshold = 1.0)
      val images = graft.data.Synth.imageTable(s, 60L)
        .where(col("fmt").isin("png", "jpeg"))
      images.select("image_id", "bytes").as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            graft.kernels.Imaging.decode(bytes).map { raster =>
              val d = ex.extract(raster)
              val meanNorm = if (d.isEmpty) 0.0
                else d.map(graft.kernels.Kernels.l2Norm).sum / d.length
              (id, d.length, math.rint(meanNorm * 1e6) / 1e6)
            }
          }
        }
        .toDF("image_id", "n_keypoints", "mean_desc_norm")
        .orderBy("image_id")
    }),

    // BoW aggregation (P12, agg/BowAggregator.java:39–74, hard assignment):
    // per-image histogram of nearest-centroid counts over the v1 codebook.
    "q_image_bow" -> ((s, dir) => {
      import s.implicits._
      val c = pipeline(s, dir)
      val bc = s.sparkContext.broadcast(c.bundles(1).codebooks(0))
      val cfg = graft.data.Synth.defaultConfig
      val images = graft.data.Synth.imageTable(s, math.min(nFor(dir), 200L))
        .where(col("fmt").isin("png", "jpeg"))
      images.select("image_id", "bytes").as[(String, Array[Byte])]
        .mapPartitions { it =>
          it.flatMap { case (id, bytes) =>
            FeaturePipeline.descriptorsOf(bytes, cfg).map { descs =>
              val hist = graft.kernels.Kernels.bow(descs, bc.value)
              val top = hist.indices.maxBy(i => (hist(i), -i))
              (id, descs.length, top, hist(top))
            }
          }
        }
        .toDF("image_id", "n_desc", "top_bin", "top_count")
        .orderBy("image_id")
    }),

    // IVFPQ k-NN (T4, ds/IVFPQ.java:408–450): probe only the w nearest coarse
    // lists — the `list_id` predicate prunes partitions when the code table is
    // partitioned by list_id (SnapshotSink does this; proven in
    // IvfSnapshotSpec), then ADC within the surviving lists, LUTs shipped for
    // the probed lists only.
    "q_image_ivf_knn" -> ((s, dir) => {
      val (qv, bundle, rows) = imageQuery(pipeline(s, dir))
      // probe width 2 (reference default: 10% of k_c, IVFPQ.java:188)
      Similarity.ivfPqSearchMany(rows, "image_id", Seq(0L -> qv),
          bundle.coarseQuantizer, bundle.pq, k = 5, nprobe = 2, transform = bundle.transform)
        .select(col("neighbor_id"), round(col("adc_dist"), 9).as("adc_dist"),
          col("list_id"))
        .orderBy("adc_dist", "neighbor_id")
    })
  )
}
