package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.synth.SynthWorld
import graft.web.Flagship

/** Driver-run benchmark: one JSON line with total seconds + per-query
  * timings. Headline entry `flagship_geocode` is the north-star metric's
  * workload (pages geoparsed + spatially joined + tiled + snapped,
  * BASELINE.json:2) at 2M pages; `ScalingBench` produces the two-
  * parallelism evidence in BENCH/BASELINE.md. */
object Bench {

  /** Force materialization of every computed column (a bare count() would
    * let Catalyst prune the geocode UDFs out of the plan). */
  def consume(df: DataFrame): Unit = {
    df.agg(
      count(col("admin_chain")).as("n_chain"),
      expr("bit_xor(cell_id)").as("x_cell"),
      count(col("nearest_building_id")).as("n_snap")).collect()
    ()
  }

  def benchCfg(pages: Long): SynthWorld.Config =
    SynthWorld.Config(seed = 42L, gridP = 3, gridC = 3,
      streetsPerCity = 10, buildingsPerStreet = 8, pages = pages)

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.start()

    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    // hierarchy build throughput (the reference's own headline: bigraph
    // nodes/s — BASELINE.md; Berlin ≈ 3.1k/s single-thread)
    // 1024 cities ≈ 420k bigraph nodes — 1.5× the reference's largest
    // region (Berlin, 277k nodes in 90.3 s single-thread)
    val hierCfg = SynthWorld.Config(seed = 42L, gridP = 8, gridC = 4,
      streetsPerCity = 10, buildingsPerStreet = 8)
    // JIT/codegen warmup on a small world first (steady-state measurement)
    locally {
      val wCfg = SynthWorld.Config(seed = 1L, gridP = 2, gridC = 2,
        streetsPerCity = 4, buildingsPerStreet = 3)
      val (wb, we) = SynthWorld.boundaryExtracts(spark, wCfg)
      graft.hier.PlacePipeline.stats(
        graft.hier.PlacePipeline.build(spark, we, graft.hier.Hierarchy.metadata(wb)))
      spark.catalog.clearCache()
    }
    val (bounds, elems) = SynthWorld.boundaryExtracts(spark, hierCfg)
    val metas = graft.hier.Hierarchy.metadata(bounds)
    // spread the driver-local relation across executors BEFORE the pipeline
    // (a LocalRelation would otherwise feed stage 1 from one partition)
    val cached = elems.repartition(spark.sparkContext.defaultParallelism * 2).cache()
    cached.count() // generation outside timing
    var nNodes = 0L
    // min of 2: the same steady-state protocol as the flagship row (the
    // small-world warmup above compiles the codegen stages but not the
    // full-size shuffle/JIT paths — the first full run carries ~12 s of
    // one-time warmup that no long-lived deployment pays per build)
    val tHier = (1 to 2).map { i =>
      if (i > 1) {
        // drop run 1's pipeline caches so run 2 measures a REBUILD, not
        // CacheManager substituting canonically-equal fragments with run 1's
        // InMemoryRelations; the input stays warm (re-cached outside timing)
        spark.catalog.clearCache()
        cached.cache().count()
      }
      time {
        val st = graft.hier.PlacePipeline.stats(
          graft.hier.PlacePipeline.build(spark, cached, metas))
        nNodes = st.nNodes
      }
    }.min
    results += ("hierarchy_build_synth" -> tHier)
    System.err.println(f"[bench] hierarchy build: $nNodes nodes in $tHier%.2f s = ${nNodes / tHier}%.0f nodes/s min-of-2 (ref single-thread ≈3.1k/s)")
    cached.unpersist()

    // planet-shard shape (SURVEY §1.1 multi-region): TWO disjoint root
    // subtrees built in ONE job — the partitioned-planet posture
    // (equality with per-region solo builds is SynthHierarchySpec's
    // planet-shard test; this row records that the one-job build costs
    // one job, not one job per region)
    locally {
      spark.catalog.clearCache()
      val shCfg = SynthWorld.Config(seed = 42L, gridP = 4, gridC = 4,
        streetsPerCity = 10, buildingsPerStreet = 8)
      val (b1, e1) = SynthWorld.boundaryExtracts(spark, shCfg)
      val (b2, e2) = SynthWorld.shiftWorld(spark, b1, e1,
        off = 1000000000000L, suffix = " B")
      val metas2 = graft.hier.Hierarchy.metadata(b1 ++ b2)
      val cached2 = e1.union(e2)
        .repartition(spark.sparkContext.defaultParallelism * 2).cache()
      cached2.count()
      var n2 = 0L
      val t2 = time {
        val st = graft.hier.PlacePipeline.stats(
          graft.hier.PlacePipeline.build(spark, cached2, metas2))
        n2 = st.nNodes
      }
      results += ("hierarchy_build_2shard" -> t2)
      System.err.println(f"[bench] 2-shard hierarchy build: $n2 nodes (2 roots, ONE job) in $t2%.2f s = ${n2 / t2}%.0f nodes/s")
      cached2.unpersist()
    }


    spark.catalog.clearCache() // drop the hierarchy working set
    // warm the JIT/codegen path once at small scale, then time 2M pages
    // from a materialized parquet scan (generation is setup, not workload;
    // min of 2 runs damps host noise)
    consume(Flagship.geocode(spark, benchCfg(20000L)))
    // ScalingBench protocol: steady-state = min of 5 timed runs over the
    // materialized parquet after the JIT warmup above
    val flagshipPages = 2000000L
    val fCfg = benchCfg(flagshipPages)
    val fDir = Flagship.materializePages(spark, fCfg)
    val tFlag = (1 to 5).map { _ =>
      time(consume(Flagship.geocodePages(spark, spark.read.parquet(fDir), fCfg)))
    }.min
    results += ("flagship_geocode_2m_pages" -> tFlag)
    System.err.println(f"[bench] flagship: ${flagshipPages / tFlag}%.0f pages geocoded+tiled/s at ${spark.sparkContext.master} (min of 5)")

    // per-query status: a crashing query must surface as err, not as a
    // flattering near-zero timing
    val status = scala.collection.mutable.LinkedHashMap.empty[String, String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      var st = "ok"
      results += (name -> time {
        try { fn(spark, sfDir).write.format("noop").mode("overwrite").save() }
        catch { case e: Throwable =>
          st = "err:" + e.getClass.getSimpleName
          System.err.println(s"[bench] $name FAILED: ${e.getMessage}")
        }
      })
      status += name -> st
    }

    // end-to-end WARC ingest (the reference's fetch→build→write lifecycle,
    // SURVEY.md §3.1): WARC container files → pages → extract → geoparse →
    // spatial join → lineage-committed bucket table. Container files are
    // setup (idempotent per config); the timed region is the whole ingest.
    // error-isolated like the per-query loop: one failing section must
    // surface as err in status, not abort the bench and lose every timing
    locally {
      var st = "ok"
      var tIngest = 0.0
      val tAttempt0 = System.nanoTime()
      try {
        // SETUP (error-isolated but NOT timed): write the WARC container
        // files once; the dir key carries the FULL config — a pages-only
        // key would reuse stale WARC files after a benchCfg change
        val iCfg = benchCfg(200000L)
        val cfgKey = s"${iCfg.seed}-${iCfg.gridP}-${iCfg.gridC}-" +
          s"${iCfg.streetsPerCity}-${iCfg.buildingsPerStreet}-${iCfg.pages}"
        val warcDir = s"${sys.props("java.io.tmpdir")}/graft-warc-bench-$cfgKey"
        // the shards are written from EXECUTORS into java.io.tmpdir while
        // the _DONE sentinel and the read happen driver-side — only
        // coherent when driver and executors share a filesystem, i.e.
        // local mode; on a real cluster this setup would silently produce
        // partial input, so fail loudly instead
        require(spark.sparkContext.isLocal,
          "warc_ingest bench setup writes executor-local tmpdir shards; local mode only")
        if (!new java.io.File(s"$warcDir/_DONE").exists()) {
          new java.io.File(warcDir).mkdirs()
          // container files are written FROM EXECUTORS (one shard per
          // partition) — the round-3 shape collected all pages incl. full
          // HTML bodies to the driver, a memory spike linear in page count
          SynthWorld.pages(spark, iCfg).repartition(32)
            .foreachPartition { (it: Iterator[SynthWorld.Page]) =>
              val recs = it.map(p => (p.url, p.warc_ts, p.html)).toSeq
              if (recs.nonEmpty) {
                val pid = org.apache.spark.TaskContext.getPartitionId()
                java.nio.file.Files.write(
                  java.nio.file.Paths.get(warcDir, f"crawl-$pid%02d.warc"),
                  graft.sources.WarcSource.writeWarc(recs))
              }
              ()
            }
          java.nio.file.Files.writeString(java.nio.file.Paths.get(warcDir, "_DONE"), "ok")
        }
        val outDir = java.nio.file.Files.createTempDirectory("graft-ingest-bench").toString
        // TIMED region: the whole ingest (read → extract → geocode → commit)
        tIngest = time {
          val r = Flagship.ingestWarc(spark, warcDir, iCfg, outDir, "bench-snap")
          require(r.pending.nonEmpty && r.skipped.isEmpty, "fresh ingest must write all buckets")
        }
      } catch { case e: Throwable =>
        st = "err:" + e.getClass.getSimpleName
        // record the elapsed-until-crash time, never a flattering 0.0
        // (same invariant as the per-query loop)
        tIngest = (System.nanoTime() - tAttempt0) / 1e9
        System.err.println(s"[bench] warc_ingest FAILED: ${e.getMessage}")
      }
      results += ("warc_ingest_e2e_200k" -> tIngest)
      status += "warc_ingest_e2e_200k" -> st
      if (st == "ok")
        System.err.println(f"[bench] warc ingest e2e: ${200000L / tIngest}%.0f pages/s incl. lineage commit")
    }

    // end-to-end text CURATION (the training-data twin of the warc ingest):
    // pages parquet → quality filter → exact dedup + copy counts → token
    // annotation → lineage-committed bucket table, 200k pages
    locally {
      var st = "ok"
      var tCur = 0.0
      val t0 = System.nanoTime()
      try {
        val cDir = Flagship.materializePages(spark, benchCfg(200000L))
        val outDir = java.nio.file.Files.createTempDirectory("graft-curate-bench").toString
        tCur = time {
          // thresholds fitted to the synthetic corpus (~22 tokens, no
          // English stopwords) so the filter passes most rows and the
          // dedup window + commit do the measured work
          val r = graft.web.Curation.curate(spark,
            spark.read.parquet(cDir).select("url", "warc_ts", "text", "lang"),
            outDir, "bench-curate", minTokens = 10,
            minMeanLenX100 = 100, maxMeanLenX100 = 2000, minStopwordBp = 0)
          require(r.pending.nonEmpty && r.skipped.isEmpty, "fresh curate must write all buckets")
        }
      } catch { case e: Throwable =>
        st = "err:" + e.getClass.getSimpleName
        tCur = (System.nanoTime() - t0) / 1e9
        System.err.println(s"[bench] curate FAILED: ${e.getMessage}")
      }
      results += ("curate_e2e_200k" -> tCur)
      status += "curate_e2e_200k" -> st
      if (st == "ok")
        System.err.println(f"[bench] curation e2e: ${200000L / tCur}%.0f pages/s incl. dedup + lineage commit")
    }

    // 10× scale-stress of the heavy operators (sublinearity by measurement)
    spark.catalog.clearCache()
    val stress =
      try StressBench.run(spark)
      catch { case e: Throwable =>
        status += "stress" -> ("err:" + e.getClass.getSimpleName)
        System.err.println(s"[bench] stress FAILED: ${e.getMessage}")
        scala.collection.immutable.ListMap.empty[String, (Double, Double)]
      }
    val stressJson = stress.map { case (k, (a, b)) =>
      s""""$k":{"t_base":$a,"t_10x":$b,"ratio":${b / a}}"""
    }.mkString("{", ",", "}")

    // IVF ANN scale contract: recall@3 + candidate-pair law at base and 10×
    // (its pair count grows as n^1.5 by design, so it does NOT belong under
    // the ≤10 time-ratio block above)
    val ivf =
      try StressBench.runIvf(spark)
      catch { case e: Throwable =>
        status += "stress_ivf" -> ("err:" + e.getClass.getSimpleName)
        System.err.println(s"[bench] ivf stress FAILED: ${e.getMessage}")
        scala.collection.immutable.ListMap.empty[String, Double]
      }
    val ivfJson = ivf.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val stJson = status.map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    val nErr = status.values.count(_ != "ok")
    val total = results.values.sum
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"status":$stJson,"errors":$nErr,"stress":$stressJson,"stress_ivf":$ivfJson,"sf":"$sfDir"}""")
    spark.stop()
  }
}
