package graft

import org.apache.spark.sql.functions._

/** Persisted-index parity for the ANN ladder: every rung's
  * build-once index must answer probes exactly as the per-query-fit
  * plan does — s07/s08 got this in round 7 (PipelineScaleSpec);
  * round 8 extends it to s03 (coarse lists), s04/s05 (PQ codes +
  * codebooks) and s09 (MIPS augmentation constants).
  */
class IndexSpec extends SparkSpec {

  private def embQueries = {
    val emb = Tables.embeddings(spark, sfDir)
    emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_vec"))
  }

  private def rows4(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet

  test("persisted coarse index: nProbe probe equals the per-query-fit s03 row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("s03idx").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.RangeIvfIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val probed = rows4(graft.operators.RangeIvfIndex.probeNearest(
      spark, dir, embQueries, k = 5, nProbe = 2))
    val s03 = rows4(SparkEntry.queries("s03_ann_ivf")(spark, sfDir))
    assert(s03.nonEmpty)
    assert(probed == s03,
      s"loaded-index nProbe probe must equal s03: missing=${s03.diff(probed).take(3)} " +
        s"extra=${probed.diff(s03).take(3)}")
  }

  test("nProbe probe maps centroid positions to persisted cluster ids when a fit left a cell empty") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("ivfgap").toString
    // cells/ stores non-empty cells only: cell 1 is empty, ids are {0, 2}
    Seq((0, Seq(1d, 0d), 0.9), (2, Seq(0d, 1d), 0.9)).toDF("cluster", "cv", "bmin")
      .write.parquet(s"$dir/cells")
    Seq((1L, Seq(1d, 0.1), 0), (2L, Seq(0.9, 0d), 0),
        (3L, Seq(0.1, 1d), 2), (4L, Seq(0d, 0.9), 2))
      .toDF("cand_id", "embedding", "cluster")
      .write.partitionBy("cluster").parquet(s"$dir/assigned")
    // next to centroid 2, which sits at POSITION 1 of the centroid array
    val q = Seq((7L, Seq(0.05, 1d))).toDF("q_id", "q_vec")
    val got = graft.operators.RangeIvfIndex.probeNearest(spark, dir, q, k = 5, nProbe = 1)
      .select("cand_id").as[Long].collect().toSet
    assert(got == Set(3L, 4L), s"an nProbe = 1 probe must scan cluster 2's list, got $got")
  }

  test("persisted PQ index: flat probe equals s04, IVF probe equals s05, row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.PqIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    // the codebooks frame is the metadata contract: 8 subspaces × 16 codes
    val cb = spark.read.parquet(s"$dir/codebooks")
    assert(cb.count() == 8 * 16)
    val flat = rows4(graft.operators.PqIndex.probeFlat(
      spark, dir, emb, embQueries, k = 5))
    val s04 = rows4(SparkEntry.queries("s04_ann_pq")(spark, sfDir))
    assert(s04.nonEmpty)
    assert(flat == s04,
      s"loaded flat-PQ probe must equal s04: missing=${s04.diff(flat).take(3)} " +
        s"extra=${flat.diff(s04).take(3)}")
    val ivf = rows4(graft.operators.PqIndex.probeIvf(
      spark, dir, emb, embQueries, k = 5, nProbe = 4))
    val s05 = rows4(SparkEntry.queries("s05_ann_ivfpq")(spark, sfDir))
    assert(s05.nonEmpty)
    assert(ivf == s05,
      s"loaded IVF-PQ probe must equal s05: missing=${s05.diff(ivf).take(3)} " +
        s"extra=${ivf.diff(s05).take(3)}")
  }

  test("delta-append maintains the on-disk index exactly: probe equals brute force over base ∪ delta") {
    val dir = java.nio.file.Files.createTempDirectory("s12idx").toString
    val emb = Tables.embeddings(spark, sfDir)
    val isDelta = col("vec_id") >= 10 && col("vec_id") % 7 === 3
    val base = emb.filter(!isDelta)
    val delta = emb.filter(isDelta).select(col("vec_id"), col("embedding"))
    assert(delta.count() > 0, "delta batch must be non-empty")
    // build on the base ONLY, then append the arriving batch
    graft.operators.RangeIvfIndex.write(spark, base, base.count(), dir)
    val cellsBefore = spark.read.parquet(s"$dir/cells")
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    graft.operators.RangeIvfIndex.append(spark, dir, delta)
    // radii only ever shrink (min-merge), and the cell count is stable
    val cellsAfter = spark.read.parquet(s"$dir/cells")
      .collect().map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(cellsAfter.keySet == cellsBefore.keySet)
    assert(cellsAfter.forall { case (c, b) => b <= cellsBefore(c) })
    // every appended vector is findable and the probe is EXACT: the
    // maintained index answers identically to brute force over the
    // whole corpus (base ∪ delta)
    val tau = 0.3
    val probed = graft.operators.RangeIvfIndex.probe(spark, dir, embQueries, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = SparkEntry.queries("s06_ann_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty)
    assert(probed == brute,
      s"maintained index must stay exact: missing=${brute.diff(probed).take(3)} " +
        s"extra=${probed.diff(brute).take(3)}")
  }

  test("tombstone delete: zero radius maintenance, probe exact over survivors") {
    val dir = java.nio.file.Files.createTempDirectory("s13idx").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.RangeIvfIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val cellsBefore = spark.read.parquet(s"$dir/cells").collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    val doomed = emb.filter(col("vec_id") >= 10 && col("vec_id") % 11 === 5)
      .select(col("vec_id").as("cand_id"))
    assert(doomed.count() > 0)
    graft.operators.RangeIvfIndex.delete(spark, dir, doomed)
    // the claim: the cells frame is UNTOUCHED — stale radii stay valid
    val cellsAfter = spark.read.parquet(s"$dir/cells").collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(cellsAfter == cellsBefore, "delete must not rewrite the radii")
    val tau = 0.3
    val probed = graft.operators.RangeIvfIndex.probe(spark, dir, embQueries, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = SparkEntry.queries("s06_ann_range_search")(spark, sfDir)
      .filter(col("cand_id") % 11 =!= 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(brute.nonEmpty)
    assert(probed == brute,
      s"probe must be exact over survivors: missing=${brute.diff(probed).take(3)} " +
        s"extra=${probed.diff(brute).take(3)}")
    // no tombstoned id ever surfaces
    assert(probed.forall(_._2 % 11 != 5))
    // COMPACTION: probes unchanged, tombstones gone, radii only tighten
    graft.operators.RangeIvfIndex.compact(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    assert(spark.read.parquet(s"$dir/assigned")
      .filter(col("cand_id") % 11 === 5 && col("cand_id") >= 10).count() == 0,
      "compaction must physically drop the tombstoned rows")
    val cellsCompact = spark.read.parquet(s"$dir/cells").collect()
      .map(r => r.getInt(0) -> r.getDouble(2)).toMap
    assert(cellsCompact.keySet == cellsBefore.keySet, "centroid geometry must survive")
    assert(cellsCompact.forall { case (c, b) => b >= cellsBefore(c) },
      "survivor radii can only tighten (min over a subset is >= the full min)")
    val probedC = graft.operators.RangeIvfIndex.probe(spark, dir, embQueries, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probedC == brute, "compaction changed the probe answer")
  }

  test("streaming intake maintains the on-disk index: foreachBatch append stays exact") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sStreamIdx").toString
    val emb = Tables.embeddings(spark, sfDir)
    val isDelta = col("vec_id") >= 10 && col("vec_id") % 7 === 3
    graft.operators.RangeIvfIndex.write(
      spark, emb.filter(!isDelta), emb.filter(!isDelta).count(), dir)
    // the delta arrives as a STREAM, two micro-batches; each batch is
    // appended by the same maintenance call the batch path uses
    val delta = emb.filter(isDelta).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(b1); ms.addData(b2)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.RangeIvfIndex.append(spark, dir,
          batch.select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    val tau = 0.3
    val probed = graft.operators.RangeIvfIndex.probe(spark, dir, embQueries, tau)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val brute = SparkEntry.queries("s06_ann_range_search")(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(probed == brute,
      s"stream-maintained index must stay exact: missing=${brute.diff(probed).take(3)} " +
        s"extra=${probed.diff(brute).take(3)}")
  }

  test("PQ delta-append: frozen-fit encode equals an independent driver encoder; probes stay deterministic") {
    val dir = java.nio.file.Files.createTempDirectory("pqAppend").toString
    val emb = Tables.embeddings(spark, sfDir)
    val isDelta = col("vec_id") >= 10 && col("vec_id") % 7 === 3
    val base = emb.filter(!isDelta)
    val delta = emb.filter(isDelta).select(col("vec_id"), col("embedding"))
    assert(delta.count() > 0, "delta batch must be non-empty")
    graft.operators.PqIndex.write(spark, base, base.count(), dir)
    val codesBefore = spark.read.parquet(s"$dir/codes").count()
    graft.operators.PqIndex.append(spark, dir, delta)
    // the fits are FROZEN: cells and codebooks are untouched by append
    val (codes, cents, cbs) = graft.operators.PqIndex.read(spark, dir)
    assert(codes.count() == codesBefore + delta.count())
    // independent oracle: re-derive every appended vector's coarse
    // cell and all 8 subspace codes with a from-scratch driver-side
    // argmax-cosine encoder (ascending index, strict >, ties → lower
    // index — NearestClusters' documented tie-break)
    def nearest(v: Array[Double], cs: Seq[Array[Double]]): Int = {
      def cos(a: Array[Double], b: Array[Double]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
        val den = math.sqrt(na) * math.sqrt(nb)
        if (den == 0.0) -1.0 else d / den
      }
      var best = 0; var bestS = Double.NegativeInfinity
      cs.zipWithIndex.foreach { case (c, i) =>
        val s = cos(v, c); if (s > bestS) { bestS = s; best = i }
      }
      best
    }
    val sub = cbs.head.head.length
    val expected = delta.collect().map { r =>
      val v = r.getSeq[Float](1).map(_.toDouble).toArray
      val cell = nearest(v, cents.toSeq)
      val cs = cbs.indices.map { m =>
        nearest(v.slice(m * sub, (m + 1) * sub), cbs(m).map(_.toArray))
      }
      (r.getLong(0), cell, cs)
    }.toSet
    val actual = codes.filter(col("cand_id") % 7 === 3 && col("cand_id") >= 10)
      .collect().map { r =>
        (r.getAs[Long]("cand_id"), r.getAs[Int]("cluster"),
          cbs.indices.map(m => r.getAs[Int](s"code$m")))
      }.toSet
    assert(actual == expected,
      s"appended codes must equal the independent encode: missing=${expected.diff(actual).take(2)} " +
        s"extra=${actual.diff(expected).take(2)}")
    // end-to-end: both probe paths over the maintained index equal the
    // same probes over a second index whose codes frame is the
    // one-shot frozen encode of base ∪ delta (append-then-probe ≡
    // encode-all-then-probe — the maintenance changed cost, not the
    // frozen-fit answer)
    val dir2 = java.nio.file.Files.createTempDirectory("pqAppendRef").toString
    graft.operators.PqIndex.write(spark, base, base.count(), dir2)
    // wipe dir2's codes, then one-shot append EVERYTHING (base rows
    // that write() indexed, plus the delta) under the same frozen fit
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir2/codes"))
    graft.operators.PqIndex.append(spark, dir2,
      base.filter(col("vec_id") >= 10).select(col("vec_id"), col("embedding"))
        .unionByName(delta))
    val pf = rows4(graft.operators.PqIndex.probeFlat(spark, dir, emb, embQueries, k = 5))
    val pf2 = rows4(graft.operators.PqIndex.probeFlat(spark, dir2, emb, embQueries, k = 5))
    assert(pf.nonEmpty && pf == pf2)
    val pi = rows4(graft.operators.PqIndex.probeIvf(spark, dir, emb, embQueries, k = 5))
    val pi2 = rows4(graft.operators.PqIndex.probeIvf(spark, dir2, emb, embQueries, k = 5))
    assert(pi.nonEmpty && pi == pi2)
  }

  test("PQ tombstone delete: zero maintenance, probes equal an index that never held the doomed codes") {
    val dir = java.nio.file.Files.createTempDirectory("pqDel").toString
    val dir2 = java.nio.file.Files.createTempDirectory("pqDelRef").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.PqIndex.write(spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val doomed = emb.filter(col("vec_id") >= 10 && col("vec_id") % 11 === 5)
      .select(col("vec_id").as("cand_id"))
    assert(doomed.count() > 0)
    graft.operators.PqIndex.delete(spark, dir, doomed)
    // reference: same fits, codes physically filtered
    graft.operators.PqIndex.write(spark, emb, Tables.embeddingsCount(spark, sfDir), dir2)
    val filtered = spark.read.parquet(s"$dir2/codes")
      .filter(!(col("cand_id") >= 10 && col("cand_id") % 11 === 5))
      .collect().toSeq
    val schema = spark.read.parquet(s"$dir2/codes").schema
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir2/codes"))
    spark.createDataFrame(spark.sparkContext.parallelize(filtered), schema)
      .write.partitionBy("cluster").parquet(s"$dir2/codes")
    val pf = rows4(graft.operators.PqIndex.probeFlat(spark, dir, emb, embQueries, k = 5))
    val pf2 = rows4(graft.operators.PqIndex.probeFlat(spark, dir2, emb, embQueries, k = 5))
    assert(pf.nonEmpty && pf == pf2,
      s"flat probe over survivors drifted: missing=${pf2.diff(pf).take(3)} extra=${pf.diff(pf2).take(3)}")
    val pi = rows4(graft.operators.PqIndex.probeIvf(spark, dir, emb, embQueries, k = 5))
    val pi2 = rows4(graft.operators.PqIndex.probeIvf(spark, dir2, emb, embQueries, k = 5))
    assert(pi.nonEmpty && pi == pi2)
    // no tombstoned id ever surfaces
    def alive(id: Long) = id < 10 || id % 11 != 5
    assert(pf.forall(r => alive(r._2)) && pi.forall(r => alive(r._2)))
    // COMPACTION: probes unchanged, tombstoned codes physically gone
    graft.operators.PqIndex.compact(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    assert(spark.read.parquet(s"$dir/codes")
      .filter(col("cand_id") % 11 === 5 && col("cand_id") >= 10).count() == 0)
    assert(rows4(graft.operators.PqIndex.probeFlat(spark, dir, emb, embQueries, k = 5)) == pf)
    assert(rows4(graft.operators.PqIndex.probeIvf(spark, dir, emb, embQueries, k = 5)) == pi)
  }

  test("streaming intake maintains the on-disk PQ index: foreachBatch append keeps frozen-fit parity") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("pqStreamIdx").toString
    val dir2 = java.nio.file.Files.createTempDirectory("pqStreamRef").toString
    val emb = Tables.embeddings(spark, sfDir)
    val isDelta = col("vec_id") >= 10 && col("vec_id") % 7 === 3
    val base = emb.filter(!isDelta)
    graft.operators.PqIndex.write(spark, base, base.count(), dir)
    // arrivals stream in over two micro-batches; each batch appended
    // by the same frozen-fit maintenance call the batch path uses
    val delta = emb.filter(isDelta).select(col("vec_id"), col("embedding"))
      .as[(Long, Seq[Float])].collect().toSeq
    val (b1, b2) = delta.splitAt(delta.length / 2)
    val ms = MemoryStream[(Long, Seq[Float])]
    ms.addData(b1); ms.addData(b2)
    val q = ms.toDF().toDF("vec_id", "embedding")
      .writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        graft.operators.PqIndex.append(spark, dir,
          batch.select(col("vec_id"),
            col("embedding").cast("array<float>").as("embedding")))
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // reference: the same frozen fit with base ∪ delta encoded in one
    // shot — stream-maintained probes must match it row-for-row
    graft.operators.PqIndex.write(spark, base, base.count(), dir2)
    org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(s"$dir2/codes"))
    graft.operators.PqIndex.append(spark, dir2,
      base.filter(col("vec_id") >= 10).select(col("vec_id"), col("embedding"))
        .unionByName(emb.filter(isDelta).select(col("vec_id"), col("embedding"))))
    val pf = rows4(graft.operators.PqIndex.probeFlat(spark, dir, emb, embQueries, k = 5))
    val pf2 = rows4(graft.operators.PqIndex.probeFlat(spark, dir2, emb, embQueries, k = 5))
    assert(pf.nonEmpty && pf == pf2,
      s"stream-maintained PQ index drifted: missing=${pf2.diff(pf).take(3)} extra=${pf.diff(pf2).take(3)}")
    val pi = rows4(graft.operators.PqIndex.probeIvf(spark, dir, emb, embQueries, k = 5))
    val pi2 = rows4(graft.operators.PqIndex.probeIvf(spark, dir2, emb, embQueries, k = 5))
    assert(pi.nonEmpty && pi == pi2)
  }

  test("persisted graph index probe equals s16 row-for-row (one build definition, loaded or derived)") {
    val dir = java.nio.file.Files.createTempDirectory("graphidx").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.GraphIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val probed = rows4(graft.operators.GraphIndex.probe(spark, dir, emb, embQueries, k = 5))
    val s16 = rows4(SparkEntry.queries("s16_ann_graph")(spark, sfDir))
    assert(s16.nonEmpty)
    assert(probed == s16,
      s"loaded graph-index probe must equal s16: missing=${s16.diff(probed).take(3)} " +
        s"extra=${probed.diff(s16).take(3)}")
  }

  private def graphFrameSets(dir: String) = {
    val edges = spark.read.parquet(s"$dir/edges")
      .select(col("a_id"), col("b_id"), col("cos"), col("cell")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val asg = spark.read.parquet(s"$dir/assigned")
      .select(col("vec_id"), col("prim"), col("cluster")).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val piv = spark.read.parquet(s"$dir/pivots")
      .select(col("cluster"), col("pid")).collect()
      .map(r => (r.getInt(0), r.getLong(1))).toSet
    (edges, asg, piv)
  }

  private def graphFrameSetsOf(emb: org.apache.spark.sql.DataFrame,
                               cents: Array[Array[Double]]) = {
    val (asgDf, edgesDf, pivDf) = graft.queries.Pipeline.graphBuildFrom(emb, cents)
    val edges = edgesDf.select(col("a_id"), col("b_id"), col("cos"), col("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val asg = asgDf.select(col("vec_id"), col("prim"), col("cluster"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    val piv = pivDf.select(col("cluster"), col("pid"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSet
    (edges, asg, piv)
  }

  private def diskCents(dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/cells")
      .select(col("cluster"), col("cv")).collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1))).sortBy(_._1).map(_._2.toArray)

  test("graph delta-append on disk: maintained index EQUALS the frozen-fit one-shot build, frame-for-frame") {
    val dir = java.nio.file.Files.createTempDirectory("graphdelta").toString
    val emb = Tables.embeddings(spark, sfDir)
    val isDelta = col("vec_id") >= 10 && col("vec_id") % 7 === 3
    val base = emb.filter(!isDelta)
    val delta = emb.filter(isDelta).select(col("vec_id"), col("embedding"))
    assert(delta.count() > 0, "delta batch must be non-empty")
    graft.operators.GraphIndex.write(spark, base, base.count(), dir)
    graft.operators.GraphIndex.append(spark, dir, delta)
    // frame-level parity: every edge (with its exact cosine), every
    // membership, every pivot equals the one-shot build over
    // base ∪ delta under the SAME frozen centroids
    val (de, da, dp) = graphFrameSets(dir)
    val (oe, oa, op) = graphFrameSetsOf(
      emb.select(col("vec_id"), col("embedding")), diskCents(dir))
    assert(da == oa, s"assigned drift: ${da.diff(oa).take(3)} / ${oa.diff(da).take(3)}")
    assert(dp == op, s"pivot drift: ${dp.diff(op).take(3)} / ${op.diff(dp).take(3)}")
    assert(de == oe, s"edge drift: ${de.diff(oe).take(3)} / ${oe.diff(de).take(3)}")
    // probe-level parity with the registered s21 query
    val probed = rows4(graft.operators.GraphIndex.probe(spark, dir, emb, embQueries, k = 5))
    val s21 = rows4(SparkEntry.queries("s21_ann_graph_delta")(spark, sfDir))
    assert(s21.nonEmpty)
    assert(probed == s21,
      s"maintained graph probe must equal s21: missing=${s21.diff(probed).take(3)} " +
        s"extra=${probed.diff(s21).take(3)}")
  }

  test("graph tombstone delete: routing intact, scoring excludes the doomed — probe equals s22; compact restores the survivor build") {
    val dir = java.nio.file.Files.createTempDirectory("graphtomb").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.GraphIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val isDoomed = col("vec_id") >= 10 && col("vec_id") % 11 === 5
    val doomed = emb.filter(isDoomed).select(col("vec_id").as("cand_id"))
    assert(doomed.count() > 0)
    graft.operators.GraphIndex.delete(spark, dir, doomed)
    val probed = rows4(graft.operators.GraphIndex.probe(spark, dir, emb, embQueries, k = 5))
    val s22 = rows4(SparkEntry.queries("s22_ann_graph_tombstone")(spark, sfDir))
    assert(s22.nonEmpty)
    assert(probed == s22,
      s"tombstoned graph probe must equal s22: missing=${s22.diff(probed).take(3)} " +
        s"extra=${probed.diff(s22).take(3)}")
    // no returned row is ever a doomed id (the contract)
    val doomedIds = doomed.collect().map(_.getLong(0)).toSet
    assert(probed.forall(r => !doomedIds.contains(r._2)))
    // compaction: the index becomes EXACTLY the frozen-fit build over
    // the survivors — affected neighborhoods re-topped, the rest
    // carried bit-identically
    graft.operators.GraphIndex.compact(spark, dir)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "tombstones")))
    val (de, da, dp) = graphFrameSets(dir)
    val (oe, oa, op) = graphFrameSetsOf(
      emb.filter(!isDoomed).select(col("vec_id"), col("embedding")), diskCents(dir))
    assert(da == oa, s"assigned drift: ${da.diff(oa).take(3)} / ${oa.diff(da).take(3)}")
    assert(dp == op, s"pivot drift: ${dp.diff(op).take(3)} / ${op.diff(dp).take(3)}")
    assert(de == oe, s"edge drift: ${de.diff(oe).take(3)} / ${oe.diff(de).take(3)}")
  }

  test("persisted graph index: beam probe equals the per-query s20 row-for-row") {
    val dir = java.nio.file.Files.createTempDirectory("graphbeam").toString
    val emb = Tables.embeddings(spark, sfDir)
    graft.operators.GraphIndex.write(
      spark, emb, Tables.embeddingsCount(spark, sfDir), dir)
    val probed = rows4(graft.operators.GraphIndex.probeBeam(
      spark, dir, emb, embQueries, k = 5))
    val s20 = rows4(SparkEntry.queries("s20_ann_beam")(spark, sfDir))
    assert(s20.nonEmpty)
    assert(probed == s20,
      s"loaded beam probe must equal s20: missing=${s20.diff(probed).take(3)} " +
        s"extra=${probed.diff(s20).take(3)}")
  }

  test("persisted MIPS index probe equals s09 row-for-row (exactness survives the split fit)") {
    val dir = java.nio.file.Files.createTempDirectory("mipsidx").toString
    val emb = Tables.embeddings(spark, sfDir)
    val corpus = emb.filter(col("vec_id") >= 10).select(col("vec_id"), col("embedding"))
    // n is the INDEXED corpus cardinality (deployment: footer metadata
    // of the corpus table)
    graft.operators.MipsIndex.write(spark, corpus, corpus.count(), dir)
    val c = spark.read.parquet(s"$dir/consts").head()
    assert(c.getAs[Double]("max_aug_n2") >= c.getAs[Double]("min_aug_n2"))
    val probed = rows4(graft.operators.MipsIndex.probe(
      spark, dir, embQueries, k = 5))
    val s09 = rows4(SparkEntry.queries("s09_ann_mips")(spark, sfDir))
    assert(s09.nonEmpty)
    // the index fit never saw the queries (s09's per-query fit did) —
    // the probe is exact top-k by dot either way, so the ROWS match
    // even though the quantizer cells differ: the bound is a proof
    assert(probed == s09,
      s"loaded MIPS probe must equal s09: missing=${s09.diff(probed).take(3)} " +
        s"extra=${probed.diff(s09).take(3)}")
    graft.CacheScope.drain()
  }

  test("s23 edge-recall audit: sampled nodes only, hits bounded by exact_m, recall in [0,1]") {
    val rows = SparkEntry.queries("s23_ann_edge_recall")(spark, sfDir).collect()
    assert(rows.nonEmpty, "the %37 sample must be non-empty at sf0.001")
    rows.foreach { r =>
      val (a, m, h, rec) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
      assert(a >= 10 && a % 37 == 1, s"non-sampled node audited: $a")
      assert(m == graft.queries.Pipeline.GraphM,
        s"exact_m must be the index's M for a corpus larger than M: $m")
      assert(h >= 0 && h <= m, s"hits out of bounds: $h of $m")
      assert(rec >= 0.0 && rec <= 1.0 && math.abs(rec - h.toDouble / m) < 5e-5,
        s"recall must be hits/exact_m rounded: $rec vs $h/$m")
    }
    // the metric must be informative: the cell-bounded build gives up
    // SOMETHING on a real corpus (otherwise the audit is a tautology);
    // and it must find most true edges (the 2-probe pools work)
    val mean = rows.map(_.getDouble(3)).sum / rows.length
    info(s"s23 mean edge recall@${graft.queries.Pipeline.GraphM}: $mean over ${rows.length} nodes")
    assert(mean > 0.3, s"edge recall implausibly low — build broken? $mean")
    graft.CacheScope.drain()
  }
}
