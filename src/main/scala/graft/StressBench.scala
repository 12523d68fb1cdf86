package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** 10× scale-stress for the heavy queries — sublinearity evidence by
  * measurement, not plan reading (VERDICT r2 task #2). Each workload runs
  * the SAME operator at a base size and at 10× the base, with inputs from
  * deterministic generators (mix/xxhash64 — no RNG state), and reports
  * (t_base, t_10x, ratio). A healthy sub-/linear operator keeps
  * ratio ≲ 10; a quadratic one shows ~100.
  *
  * The generators are honest about what scales: the dedup corpora grow the
  * VOCABULARY with n (token document-frequency stays constant — the regime
  * the df-capped inverted index is designed for; a fixed vocabulary would
  * measure the cap, not the operator); the kNN/CC/join inputs grow the
  * point/cell/fact population over a fixed world. Invoked by Bench per
  * round (→ BENCH_r{N}.json "stress") and standalone via its main.
  */
object StressBench {

  /** Documents with ~constant token df: 40 tokens/doc drawn from a vocab of
    * 8n, so E[df] ≈ 5 at every n; every 100th doc is a planted near-dup of
    * its predecessor (39/40 shared tokens → jaccard 39/41 ≈ 0.95). */
  def writeDocs(spark: SparkSession, n: Long, dir: String): Unit = {
    val vocab = lit(8L * n)
    // token 0 is always the doc's own; tokens 1..39 come from the dup base
    val base = when(col("id") % 100 === 99, col("id") - 1).otherwise(col("id"))
    val text = array_join(
      transform(sequence(lit(0), lit(39)), j =>
        concat(lit("t"), pmod(xxhash64(
          when(j === 0, col("id")).otherwise(base) * 41 + j), vocab).cast("string"))),
      " ")
    spark.range(n).select(
      col("id").as("doc_id"), text.as("text"),
      lit("en").as("lang"), lit("stress").as("source"),
      length(text).cast("long").as("n_chars"))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  /** Cluster-structured 64-dim embeddings — the corpus shape real encoder
    * output has (near neighbors share latent structure; a pure-noise corpus
    * would measure the scan fraction, not the index). 64 latent clusters;
    * v[d] = center(cluster, d) + 0.6·noise(id, d), all xxhash64-derived
    * (deterministic, no RNG state). Same-cluster cosine ≈ 0.7,
    * cross-cluster ≈ 0, so recall@3 against brute force is a meaningful
    * index-quality number at every n. */
  def writeEmbeddings(spark: SparkSession, n: Long, dir: String): Unit = {
    val dim = 64
    val cl = pmod(xxhash64(col("id")), lit(64L))
    val vec = transform(sequence(lit(0), lit(dim - 1)), d =>
      ((pmod(xxhash64(cl * 64 + d), lit(2000L)) - 1000L).cast("double") / 1000.0
        + (pmod(xxhash64(col("id") * 131 + d), lit(2000L)) - 1000L).cast("double")
          / 1000.0 * 0.6).cast("float"))
    spark.range(n).select(col("id").as("vec_id"), vec.as("embedding"),
      cl.cast("int").as("label"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }

  /** IVF ANN at base and 10× corpus size — the scale contract the ≤10
    * time-ratio bar cannot express: candidate pairs follow nprobe·n^1.5
    * (so the 10× ratio is ~31.6 BY DESIGN, sub-quadratic but not linear),
    * and what must NOT degrade is recall. Reports, per size: ivfTopK wall
    * seconds, recall@3 against the brute-force oracle (bruteTopK — proven
    * equal to distributed exactTopK by NearDupAnnSpec), candidate-pair
    * count, and pairs/(nprobe·n^1.5) (the law fraction, must stay O(1)). */
  def runIvf(spark: SparkSession, base: Long = 5000L)
      : scala.collection.immutable.ListMap[String, Double] = {
    val tmp = sys.props("java.io.tmpdir")
    var out = scala.collection.immutable.ListMap.empty[String, Double]
    // same warmup discipline as measure(): a cold first call pays one-time
    // codegen/JIT inside the timed window and flatters the base→10x ratio
    locally {
      val wDir = s"$tmp/graft-stress-emb-${base / 10}"
      if (!new java.io.File(s"$wDir/embeddings.parquet/_SUCCESS").exists())
        writeEmbeddings(spark, base / 10, wDir)
      graft.sim.Ann.ivfTopK(spark, wDir, k = 3)
        .write.format("noop").mode("overwrite").save()
      spark.catalog.clearCache()
    }
    for ((label, n) <- Seq(("base", base), ("10x", base * 10))) {
      val dir = s"$tmp/graft-stress-emb-$n"
      if (!new java.io.File(s"$dir/embeddings.parquet/_SUCCESS").exists())
        writeEmbeddings(spark, n, dir)
      val t0 = System.nanoTime()
      val ivf = graft.sim.Ann.ivfTopK(spark, dir, k = 3)
        .select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val tIvf = (System.nanoTime() - t0) / 1e9
      val brute = graft.sim.Ann.bruteTopK(spark, dir, k = 3)
        .select("vec_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val recall = (brute & ivf).size.toDouble / brute.size
      val pairs = graft.sim.Ann.ivfCandidatePairs(spark, dir)
      val (_, nprobe) = graft.sim.Ann.ivfParams(n)
      val lawFrac = pairs / (nprobe * n * math.sqrt(n.toDouble))
      out += s"ivf_${label}_n" -> n.toDouble
      out += s"ivf_${label}_sec" -> tIvf
      out += s"ivf_${label}_recall_at_3" -> recall
      out += s"ivf_${label}_cand_pairs" -> pairs.toDouble
      out += s"ivf_${label}_law_frac" -> lawFrac
      System.err.println(f"[stress] ivf $label n=$n: $tIvf%.2f s, recall@3=$recall%.3f, " +
        f"pairs=$pairs (law frac $lawFrac%.3f)")
      spark.catalog.clearCache()
    }
    out
  }

  /** Points over the synthetic rect world [40,48)×[0,8), hash-uniform. */
  def points(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      col("id"),
      (lit(40.0) + pmod(xxhash64(col("id")), lit(79990L)) / 10000.0).as("lat"),
      (pmod(xxhash64(col("id") * 3), lit(79990L)) / 10000.0).as("lon"))

  /** Occupied cells on a 2^20 grid as n/64 clusters of 8×8 blocks —
    * components with real diameter, no saturation at any n. INTEGER
    * division throughout (Column `/` is double division in Spark — the
    * fractional coordinates would scatter every cell into its own
    * component and the CC stress would measure nothing). */
  def clusteredCells(spark: SparkSession, n: Long): DataFrame = {
    val cluster = (col("id") / 64).cast("long")
    val local = col("id") % 64
    spark.range(n).select(
      (pmod(xxhash64(cluster), lit((1L << 20) - 8)) + local % 8).as("i"),
      (pmod(xxhash64(cluster * 7), lit((1L << 20) - 8)) + (local / 8).cast("long")).as("j"))
  }

  /** Skewed fact table: 30% of rows on key 0, the rest uniform over 1000
    * keys — the shape AQE cannot split on a reused exchange. */
  def skewedFact(spark: SparkSession, n: Long): DataFrame =
    spark.range(n).select(
      when(pmod(xxhash64(col("id")), lit(10L)) < 3, lit(0L))
        .otherwise(pmod(xxhash64(col("id") * 13), lit(1000L))).as("key"),
      pmod(xxhash64(col("id") * 17), lit(10000L)).as("qty"))

  private def consume(df: DataFrame): Unit = {
    df.write.format("noop").mode("overwrite").save()
    df.unpersist(false) // kNN/CC pin their materialized result by contract
  }

  /** One (t_base, t_10x) measurement; f must build a FRESH plan per call.
    * A warmup at base/10 runs first so the base timing measures the
    * operator, not codegen/JIT compilation (a cold base flatters the
    * ratio — q36 measured ratio 0.8 without it). Every run unpersists its
    * result and the workload ends with a clearCache, so one workload's
    * pinned storage (e.g. jaccard's internal token-set cache) cannot bias
    * the next one's timings. */
  private def measure(spark: SparkSession, label: String, base: Long)
                     (f: Long => DataFrame): (Double, Double) = {
    def time(n: Long): Double = {
      val t0 = System.nanoTime(); consume(f(n)); (System.nanoTime() - t0) / 1e9
    }
    time(math.max(base / 10, 1L)) // warmup
    val t1 = time(base)
    val t10 = time(base * 10)
    spark.catalog.clearCache()
    System.err.println(f"[stress] $label: base($base)=$t1%.2f s, 10x=$t10%.2f s, ratio=${t10 / t1}%.1f")
    (t1, t10)
  }

  /** Run all stress workloads; returns label → (t_base, t_10x). */
  def run(spark: SparkSession): scala.collection.immutable.ListMap[String, (Double, Double)] = {
    val tmp = sys.props("java.io.tmpdir")
    var out = scala.collection.immutable.ListMap.empty[String, (Double, Double)]

    // near-dup corpora are written once per size (setup, untimed)
    def docsDir(n: Long): String = {
      val d = s"$tmp/graft-stress-docs-$n"
      if (!new java.io.File(s"$d/documents.parquet/_SUCCESS").exists())
        writeDocs(spark, n, d)
      d
    }
    val docsBase = 20000L
    docsDir(docsBase); docsDir(docsBase * 10)

    out += "q25_jaccard" -> measure(spark, "q25_jaccard", docsBase)(n =>
      graft.text.NearDup.jaccardPairs(spark, docsDir(n),
        thresholdPct = 80, maxDf = 1000, maxDocId = Long.MaxValue))
    out += "q26_minhash_lsh" -> measure(spark, "q26_minhash_lsh", docsBase)(n =>
      graft.text.NearDup.minhashLsh(spark, docsDir(n),
        numHashes = 16, bands = 4, thresholdPct = 80, maxDocId = Long.MaxValue))

    // gazetteer geoparse at a REAL gazetteer size (10k names) over the
    // same growing corpora: inverted-index candidates = Σ df(firstToken)
    // ≈ 50k at every n (df stays ~5 by construction), so time tracks the
    // page scan, not pages × names — the NLJ this replaced would do
    // 2×10⁸..2×10⁹ substring scans here
    out += "q43_gazetteer" -> measure(spark, "q43_gazetteer", docsBase) { n =>
      // DEPLOYMENT gazetteer size: 100k names, every 10th a two-token name
      // (exercising the n-gram verify path at scale); candidates stay
      // Σ df(firstToken) so time tracks the page scan — the replaced NLJ
      // would do 2×10⁹..2×10¹⁰ substring scans here
      val gaz = spark.range(100000).select(
        when(col("id") % 10 === 0,
          concat(lit("t"), col("id"), lit(" t"), col("id") + 1))
          .otherwise(concat(lit("t"), col("id"))).as("place_name"),
        (col("id") % 180 - 90).cast("double").as("g_lat"),
        (col("id") % 360 - 180).cast("double").as("g_lon"))
      graft.web.Geocode.gazetteerMatch(
        spark.read.parquet(s"${docsDir(n)}/documents.parquet")
          .select(col("doc_id"), col("text")),
        gaz, keepUnmatched = false, keyCols = Seq("doc_id"))
    }

    val cfg = graft.synth.SynthWorld.Config(seed = 42L, gridP = 2, gridC = 2,
      streetsPerCity = 10, buildingsPerStreet = 8)
    val targets = {
      import spark.implicits._
      graft.synth.SynthWorld.buildings(cfg).map(b => (b.id, b.lat, b.lon))
        .toDF("tid", "tlat", "tlon")
    }
    out += "q36_knn" -> measure(spark, "q36_knn", 15000L)(n =>
      graft.spatial.DistributedKnn.nearest(spark, points(spark, n), targets, level = 12))

    out += "q44_knn_topk" -> measure(spark, "q44_knn_topk", 15000L)(n =>
      graft.spatial.DistributedKnn.knn(spark, points(spark, n), targets, level = 12, k = 3))

    // fact×fact zonal stats over the 21-rect zone table: raster cells grow
    // with n, the cover join stays one shuffle — expect ~linear
    out += "q45_zonal" -> measure(spark, "q45_zonal", 200000L) { n =>
      import spark.implicits._
      val zonesDf = graft.web.Flagship.boundaries(cfg)
        .map(b => (b.id, b.wkb)).toDF("boundary_id", "wkb")
      graft.spatial.Raster.zonalStatsDistributed(spark,
        graft.spatial.Raster.rasterize(spark, points(spark, n), level = 10),
        zonesDf, coverLevel = 10)
    }

    // the path's REAL regime: the ZONE table grows 10× (per-tenant fences
    // — the side that cannot broadcast) over a fixed 200k-point raster;
    // each ~0.1° rect covers O(1) level-10 cells, so cover rows, shuffle
    // and refine all grow linearly in zones — expect ~linear
    out += "q45_zonal_manyzones" -> measure(spark, "q45_zonal_manyzones", 1000L) { z =>
      import spark.implicits._
      val raster = graft.spatial.Raster.rasterize(
        spark, points(spark, 200000L), level = 10)
      val zones = spark.range(z).mapPartitions { it =>
        val gf = new org.locationtech.jts.geom.GeometryFactory()
        val w = new org.locationtech.jts.io.WKBWriter()
        it.map { i =>
          val x0 = math.floorMod(graft.synth.SynthWorld.mix(i), 790L) / 100.0
          val y0 = 40.0 + math.floorMod(graft.synth.SynthWorld.mix(i * 13), 790L) / 100.0
          (i, w.write(gf.toGeometry(
            new org.locationtech.jts.geom.Envelope(x0, x0 + 0.1, y0, y0 + 0.1))))
        }
      }.toDF("boundary_id", "wkb")
      graft.spatial.Raster.zonalStatsDistributed(spark, raster, zones, coverLevel = 10)
    }

    // fact×fact crossings: the ZONE side grows 10× over a fixed 3k-line
    // table — the regime where the broadcast ring index dies. Each ~0.1°
    // rect ring covers O(perimeter) level-11 cells, so cover rows, the one
    // cell shuffle, and the refine all grow linearly in zones
    out += "q46_crossings_manyzones" -> measure(spark, "q46_crossings_manyzones", 1000L) { z =>
      import spark.implicits._
      val lines = spark.range(3000).mapPartitions { it =>
        val gf = new org.locationtech.jts.geom.GeometryFactory()
        val w = new org.locationtech.jts.io.WKBWriter()
        it.map { i =>
          val y = 40.0 + math.floorMod(graft.synth.SynthWorld.mix(i * 7), 7900L) / 1000.0
          val x0 = math.floorMod(graft.synth.SynthWorld.mix(i * 3), 7900L) / 1000.0
          (i, w.write(gf.createLineString(Array(
            new org.locationtech.jts.geom.Coordinate(x0, y),
            new org.locationtech.jts.geom.Coordinate(x0 + 0.3, y)))))
        }
      }.toDF("line_id", "wkb")
      val zones = spark.range(z).mapPartitions { it =>
        val gf = new org.locationtech.jts.geom.GeometryFactory()
        val w = new org.locationtech.jts.io.WKBWriter()
        it.map { i =>
          val x0 = math.floorMod(graft.synth.SynthWorld.mix(i), 790L) / 100.0
          val y0 = 40.0 + math.floorMod(graft.synth.SynthWorld.mix(i * 13), 790L) / 100.0
          (i, w.write(gf.toGeometry(
            new org.locationtech.jts.geom.Envelope(x0, x0 + 0.1, y0, y0 + 0.1))))
        }
      }.toDF("boundary_id", "wkb")
      graft.spatial.SpatialOps.crossingsDistributed(spark, lines, zones, level = 11)
    }

    out += "q38_cc" -> measure(spark, "q38_cc", 50000L)(n =>
      graft.spatial.Raster.connectedComponents(spark, clusteredCells(spark, n), gridN = 1L << 20))

    val dim = spark.range(1000).select(col("id").as("key"),
      concat(lit("P"), pmod(col("id"), lit(5)).cast("string")).as("priority"))
    out += "q39_salted_join" -> measure(spark, "q39_salted_join", 600000L)(n =>
      graft.ops.Skew.saltedJoin(skewedFact(spark, n), dim, "key",
          salts = 16, spreadOn = col("qty"))
        .groupBy("priority").agg(count(lit(1)).as("n"), sum(col("qty")).as("total")))

    out
  }

  def main(args: Array[String]): Unit = {
    val spark = Session.start()
    val rs = run(spark)
    val js = rs.map { case (k, (a, b)) =>
      s""""$k":{"t_base":$a,"t_10x":$b,"ratio":${b / a}}"""
    }.mkString("{", ",", "}")
    println(s"""{"stress":$js}""")
    spark.stop()
  }
}
