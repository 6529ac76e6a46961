package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.{Multimodal, Similarity, Skew}
import graft.sources.Tables

class ScaleOpsSpec extends AnyFunSuite {
  import SparkTestSession._
  import spark.implicits._

  test("withScalar rejects a multi-row 'scalar' instead of multiplying rows") {
    val df = Tables.nation(spark, sf)
    // a grouped aggregate is NOT provably 1-row — must fail fast
    val multi = df.groupBy("n_regionkey").count()
    val e = intercept[IllegalArgumentException] {
      graft.ops.Scalars.withScalar(df, col("n_nationkey"), multi, col("count"))
    }
    assert(e.getMessage.contains("1-row"))
    // a global aggregate passes and attaches to every row
    val one = df.agg(count(lit(1)).as("n_total"))
    val out = graft.ops.Scalars.withScalar(df, col("n_nationkey"), one, col("n_total"))
    assert(out.count() == df.count())
    assert(out.select("n_total").distinct().count() == 1)
  }

  test("withScalar works with non-numeric key columns") {
    val df = Tables.nation(spark, sf)
    val one = df.agg(max("n_name").as("max_name"))
    val out = graft.ops.Scalars.withScalar(df, col("n_name"), one, col("max_name"))
    assert(out.count() == df.count())
  }

  test("LSH embedding dedup pairs are a subset of label-free exact pairs") {
    // every LSH pair must be a true >=threshold pair (the bucket only
    // PRUNES candidates; the cosine verify is exact)
    val lsh = graft.ops.Dedup.embeddingNearDupLsh(
        Tables.embeddings(spark, sf), threshold = 0.35)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val all = {
      val e = Tables.embeddings(spark, sf)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val a = e.select(col("vec_id").as("id1"), col("v").as("v1"))
      val b = e.select(col("vec_id").as("id2"), col("v").as("v2"))
      a.crossJoin(b).filter(col("id1") < col("id2"))
        .filter(graft.ops.Dedup.cosine(col("v1"), col("v2")) >= 0.35)
        .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    assert(lsh.subsetOf(all), s"LSH emitted a false pair: ${lsh.diff(all)}")
    assert(lsh.nonEmpty, "LSH should keep same-bucket near-dups at sf0.001")
  }

  test("IVF ANN recalls most brute-force neighbors at nprobe=4/16") {
    val brute = Similarity.bruteForceTopK(Tables.embeddings(spark, sf), col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val ivf = Similarity.ivfTopK(Tables.embeddings(spark, sf), col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = (brute & ivf).size.toDouble / brute.size
    assert(recall >= 0.5, s"IVF recall too low: $recall")
    assert(ivf.size == brute.size, "IVF should fill k slots per probe from its cells")
  }

  test("IVF-PQ fills k slots, is run-deterministic, and recalls brute-force neighbors") {
    val emb = Tables.embeddings(spark, sf)
    val brute = Similarity.bruteForceTopK(emb, col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    def run() = Similarity.ivfPqTopK(emb, col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Int]("rank"),
        r.getAs[Long]("neighbor_id"))).toSeq
    val a = run()
    assert(a.size == brute.size, "IVF-PQ should fill k slots per probe")
    // deterministic end to end (seed sample, Lloyd quantization, ties)
    assert(a == run(), "two IVF-PQ runs diverged — training is not deterministic")
    val got = a.map(t => (t._1, t._3)).toSet
    // residual-PQ over near-random synthetic embeddings at nprobe=2/8
    // legitimately misses cross-cell neighbors; ~0.12 observed. The
    // floor is pinned just under that (r9 ADVICE: 0.05 only guarded
    // total collapse) so a real quality regression fails, while run-
    // to-run identity is already asserted above.
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.10, s"IVF-PQ recall regressed below 0.10: $recall")
  }

  test("WAV parser does a real chunk walk, not a fixed-offset read") {
    val wav = Multimodal.buildWav(7L, 100)
    val direct = Multimodal.parseWav(7L, wav)
    assert(direct.sample_rate == 12000 && direct.channels == 2 && direct.bits == 16)
    assert(direct.n_samples == (64 + 100 % 64) * 2)
    // splice an unknown (odd-sized, padded) chunk between fmt and data:
    // a fixed-offset "parser" breaks, a chunk walk skips it
    val bb = java.nio.ByteBuffer.allocate(wav.length + 8 + 6)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(wav, 0, 36)                       // RIFF header + fmt chunk
    bb.put("LIST".getBytes("US-ASCII")).putInt(5)
    bb.put(Array[Byte](1, 2, 3, 4, 5, 0))    // 5 bytes + pad
    bb.put(wav, 36, wav.length - 36)         // data chunk
    val spliced = bb.array()
    // patch the RIFF size for the extra chunk
    java.nio.ByteBuffer.wrap(spliced).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(4, spliced.length - 8)
    val walked = Multimodal.parseWav(7L, spliced)
    assert(walked == direct.copy(), "chunk walk must ignore unknown chunks")
    // malformed input throws instead of returning garbage
    assertThrows[IllegalArgumentException] {
      Multimodal.parseWav(7L, "JUNKJUNKJUNKJUNK".getBytes)
    }
  }

  test("events loader normalizes legacy nanos-long and timestamp[us] schemas identically") {
    // the r9 testdata regeneration changed events.ts from INT64
    // TIMESTAMP(NANOS) to plain timestamp[us]; Tables.events must map
    // BOTH forms to the same (ts: timestamp, ts_ns: long) contract
    val base = java.nio.file.Files.createTempDirectory("graft_tsadapt_")
    base.toFile.deleteOnExit()
    val micros = Seq(0L, 1700000000000000L, 1700000000123456L)
    // legacy shape: a raw BIGINT column holding epoch NANOS
    spark.createDataFrame(
        spark.sparkContext.parallelize(micros.map(u =>
          org.apache.spark.sql.Row(1L, u * 1000L, 2L, "t", 0.5, "{}"))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
      .write.parquet(s"$base/legacy/events.parquet")
    // current shape: TIMESTAMP_NTZ micros
    spark.createDataFrame(
        spark.sparkContext.parallelize(micros.map(u =>
          org.apache.spark.sql.Row(1L, java.time.LocalDateTime.ofEpochSecond(
            u / 1000000L, (u % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC),
            2L, "t", 0.5, "{}"))),
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampNTZType),
          org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType))))
      .write.parquet(s"$base/current/events.parquet")
    def load(dir: String) = Tables.events(spark, dir)
      .select("ts", "ts_ns").orderBy("ts_ns")
      .collect().map(r => (r.getTimestamp(0).getTime, r.getLong(1))).toSeq
    val legacy  = load(s"$base/legacy")
    val current = load(s"$base/current")
    assert(legacy == current,
      s"schema-adaptive loader diverged: legacy=$legacy current=$current")
    assert(current.map(_._2) == micros.map(_ * 1000L),
      "ts_ns must be exact epoch nanos")
  }

  test("containment is never below Jaccard on pairs both joins emit") {
    // |A∩B|/min ≥ |A∩B|/|A∪B| always; with thresholds 0.9 vs 0.8 any
    // Jaccard pair at ≥0.9 containment must appear in the containment
    // join — catches a side-size mixup in the melt join
    val docs = Tables.documents(spark, sf)
    val jac = graft.ops.Dedup.ngramJaccard(docs, n = 3, threshold = 0.8, maxDF = 50)
      .select("id1", "id2", "shared", "jaccard")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(3)).toMap
    val cont = graft.ops.Dedup.ngramContainment(docs, n = 3, tNum = 9, tDen = 10, maxDF = 50)
      .select("id1", "id2", "containment")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(cont.nonEmpty)
    for ((k, c) <- cont; j <- jac.get(k))
      assert(c >= j, s"pair $k: containment $c < jaccard $j")
    for ((k, c) <- cont if jac.contains(k))
      assert(c >= 0.9, s"pair $k emitted below the containment threshold: $c")
  }

  test("PPM parser tokenizes the header, not fixed offsets, and rejects junk") {
    val ppm = Multimodal.buildPpm(7L, 100)
    val direct = Multimodal.parsePpm(7L, ppm)
    assert(direct.width == 4 + 100 % 13 && direct.height == 2 + 7 % 7)
    assert(direct.n_samples == direct.width.toLong * direct.height * 3)
    assert(direct.maxval == 255 && direct.pix_max <= 255 && direct.pix_sum > 0)
    // same header fields expressed with different (legal) whitespace
    // runs — a fixed-offset reader breaks, a tokenizer doesn't
    val headerLen = ppm.indexOfSlice("255\n".getBytes("US-ASCII")) + 4
    val alt = s"P6\t\n ${direct.width}\n${direct.height} \t255\n".getBytes("US-ASCII") ++
      ppm.drop(headerLen)
    assert(Multimodal.parsePpm(7L, alt) == direct,
      "whitespace-run header variant must parse identically")
    assertThrows[IllegalArgumentException] {
      Multimodal.parsePpm(7L, "P5\n2 2\n255\n".getBytes) // wrong magic
    }
    assertThrows[IllegalArgumentException] {
      Multimodal.parsePpm(7L, ppm.dropRight(1)) // truncated payload
    }
  }

  test("BMP parser walks the structs, skips row padding, inverts bottom-up order") {
    val bmp = Multimodal.buildBmp(7L, 100)
    val direct = Multimodal.parseBmp(7L, bmp)
    val w = 3 + 100 % 11; val h = 1 + (7 % 5)
    assert(direct.width == w && direct.height == h)
    assert(direct.row_stride == ((w * 3 + 3) / 4) * 4)
    assert(direct.n_bytes == w.toLong * h * 3,
      "fold must exclude the stride padding bytes")
    // analytic replay, channel phase and top-row window included
    def byte(k: Int): Int = ((7L * 11 + k * 19) % 256).toInt
    val np = w * h * 3
    val vals = (0 until np).map(byte)
    assert(direct.pix_sum == vals.map(_.toLong).sum)
    for (c <- 0 until 3) {
      val want = vals.zipWithIndex.collect { case (v, k) if k % 3 == c => v.toLong }.sum
      val got = c match {
        case 0 => direct.b_sum; case 1 => direct.g_sum; case _ => direct.r_sum
      }
      assert(got == want, s"channel $c sum diverged — padding folded into the phase?")
    }
    assert(direct.top_row_sum ==
      ((h - 1) * w * 3 until np).map(byte(_).toLong).sum,
      "logical top row must be the LAST stored row (bottom-up)")
    // every pad residue 0..3 occurs across the w dial, and padded rows
    // really carry pad bytes the parser must skip
    assert((0 until 11).map(l => (3 + l % 11) * 3 % 4).toSet == Set(0, 1, 2, 3))
    // malformed inputs throw instead of returning garbage
    assertThrows[IllegalArgumentException] {
      Multimodal.parseBmp(7L, "JUNKJUNKJUNKJUNK".getBytes) // wrong magic
    }
    assertThrows[IllegalArgumentException] {
      Multimodal.parseBmp(7L, bmp.dropRight(1)) // truncated payload
    }
    val notRgb = bmp.clone() // flip biCompression to BI_RLE8
    java.nio.ByteBuffer.wrap(notRgb).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(30, 1)
    assertThrows[IllegalArgumentException] { Multimodal.parseBmp(7L, notRgb) }
  }

  test("phash bit i samples byte (i*n) div 64, thresholded strictly above the mean") {
    for (id <- Seq(0L, 7L, 123L); len <- Seq(0, 100, 499)) {
      val out = Multimodal.phash(id, Multimodal.buildPpm(id, len))
      val w = 4 + len % 13; val h = 2 + (id % 7).toInt; val n = w * h * 3
      def byte(k: Int): Int = ((id * 7 + k * 13) % 256).toInt
      val s = (0 until n).map(byte(_).toLong).sum
      val bits = (0 until 64).map(i =>
        if (byte((i.toLong * n / 64).toInt).toLong * n > s) 1L else 0L)
      val hash = bits.zipWithIndex.map { case (b, i) => b << i }.reduce(_ | _)
      assert(out.c0 == (hash & 0xffffL) && out.c1 == ((hash >>> 16) & 0xffffL) &&
        out.c2 == ((hash >>> 32) & 0xffffL) && out.c3 == ((hash >>> 48) & 0xffffL))
      assert(out.nbits == bits.sum && out.mean_u8 == (s / n).toInt)
    }
  }

  test("phash pigeonhole pairing finds exactly the quadratic hamming<=3 pairs") {
    val docs = Tables.documents(spark, sf)
    val hs = docs
      .select(col("doc_id"), length(encode(col("text"), "UTF-8")).as("len"))
      .collect().map { r =>
        val p = Multimodal.phash(r.getLong(0),
          Multimodal.buildPpm(r.getLong(0), r.getInt(1)))
        (p.doc_id, p.c0 | (p.c1 << 16) | (p.c2 << 32) | (p.c3 << 48))
      }
    val expect = (for {
      (a, ha) <- hs; (b, hb) <- hs
      if a < b && java.lang.Long.bitCount(ha ^ hb) <= 3
    } yield (a, b)).toSet
    assert(expect.nonEmpty, "fixture corpus must contain near-dup images")
    val got = Multimodal.phashPairs(docs)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == expect, "chunk blocking must be exhaustive at radius 3")
  }

  test("PPM build/parse roundtrip matches the analytic formulas on random inputs") {
    import org.scalacheck.{Gen, rng}
    val gen = for {
      id <- Gen.choose(0L, 100000L); len <- Gen.choose(0, 500)
    } yield (id, len)
    val cases = Gen.listOfN(200, gen).pureApply(Gen.Parameters.default, rng.Seed(7L))
    for ((id, len) <- cases) {
      val out = Multimodal.parsePpm(id, Multimodal.buildPpm(id, len))
      val w = 4 + len % 13; val h = 2 + (id % 7).toInt; val np = w * h * 3
      assert(out.width == w && out.height == h && out.maxval == 255,
        s"($id,$len): header fields diverged")
      assert(out.n_samples == np)
      val vals = (0 until np).map(k => ((id * 7 + k * 13) % 256).toInt)
      assert(out.pix_sum == vals.sum.toLong && out.pix_max == vals.max,
        s"($id,$len): payload fold diverged")
    }
  }

  test("family-hash split assignment leaks zero near-dup pairs") {
    val rows = SparkEntry.queries("split_leakage")(spark, sf).collect()
    assert(rows.length == 2, s"expected 2 schemes, got ${rows.length}")
    val byScheme = rows.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val total = Tables.documents(spark, sf).count()
    for ((scheme, (tr, va, te, _)) <- byScheme)
      assert(tr + va + te == total, s"$scheme split counts don't cover the corpus")
    assert(byScheme("family")._4 == 0L,
      "family-root hashing must keep every near-dup pair inside one split")
  }

  test("budget selection is a greedy per-source quality prefix") {
    val budget = 25000L
    val rows = SparkEntry.queries("corpus_select_budget")(spark, sf).collect()
    assert(rows.nonEmpty)
    val maxChars = Tables.documents(spark, sf)
      .agg(max(length(col("text")))).head().getInt(0).toLong
    rows.foreach { r =>
      val (src, cand, sel, chars) =
        (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(sel >= 1 && sel <= cand, s"$src: selected $sel of $cand")
      // the doc that crosses the line is kept, so the overshoot is
      // bounded by one document
      assert(chars < budget + maxChars, s"$src: chars $chars exceeds budget+1doc")
      if (sel < cand) assert(chars >= budget,
        s"$src: stopped selecting at $chars with budget unexhausted")
    }
  }

  test("pipeline funnel stages are monotone and anchored at both ends") {
    val rows = SparkEntry.queries("pipeline_e2e")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "exact_dedup", "near_dedup", "quality", "budget",
        "decontam", "split_train"))
    assert(rows.head._3 == Tables.documents(spark, sf).count(),
      "raw stage must count the whole corpus")
    // every stage only removes documents (and chars)
    rows.sliding(2).foreach { case Array((_, a, na, ca), (_, b, nb, cb)) =>
      assert(nb <= na && cb <= ca, s"stage $b grew vs $a: $nb>$na or $cb>$ca")
    }
    assert(rows.last._3 >= 1, "train split selected nothing")
    // decontamination must actually cut the planted eval stand-ins
    val budget = rows(4); val decon = rows(5)
    assert(decon._3 < budget._3, "decontam stage removed nothing")
  }

  test("pipeline funnel v2: monotone stages, biting dedup stages, consistent agreement cells") {
    val rows = SparkEntry.queries("pipeline_e2e_v2")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(rows.map(_._2).toSeq ==
      Seq("raw", "exact_dedup", "substring_dedup", "near_dedup", "quality",
        "budget", "decontam", "split_train",
        "gate_rule0_clf0", "gate_rule0_clf1", "gate_rule1_clf0",
        "gate_rule1_clf1"))
    assert(rows.head._3 == Tables.documents(spark, sf).count())
    // funnel stages 0..7 only remove documents (and chars)
    rows.take(8).sliding(2).foreach { case Array((_, a, na, ca), (_, b, nb, cb)) =>
      assert(nb <= na && cb <= ca, s"stage $b grew vs $a: $nb>$na or $cb>$ca")
    }
    // the r14 stage must BITE on this corpus (it runs before the family
    // collapse precisely because that is where substring duplication
    // lives — a dead stage here means the order regressed)
    assert(rows(2)._3 < rows(1)._3, "substring_dedup stage removed nothing")
    assert(rows.last._3 >= 0 && rows(7)._3 >= 1)
    // the 4 agreement cells partition the gate's input population
    // (stage-3 survivors): counts and chars must sum exactly
    val cells = rows.drop(8)
    assert(cells.map(_._3).sum == rows(3)._3,
      s"agreement cells ${cells.map(_._3).sum} != near_dedup ${rows(3)._3}")
    assert(cells.map(_._4).sum == rows(3)._4,
      "agreement cell chars don't sum to the gate population")
    // rule-keeps among the cells must equal the quality stage survivors
    assert(cells.filter(_._2.startsWith("gate_rule1")).map(_._3).sum == rows(4)._3,
      "rule1 cells don't reproduce the quality stage count")
  }

  test("hnsw layered search is deterministic, well-formed, and beats its single-bucketing failure mode") {
    import graft.ops.Hnsw
    def run() = Hnsw.search(Hnsw.build(Tables.embeddings(spark, sf)), col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    val a = run()
    // k slots filled per probe, ranks dense from 1
    val byProbe = a.groupBy(_._1)
    assert(byProbe.size == 10 && byProbe.values.forall(_.map(_._2).sorted == Seq(1L, 2L, 3L, 4L, 5L)))
    // deterministic end to end (hash layers, graph build, beam ties)
    assert(a == run(), "two hnsw runs diverged — search is not deterministic")
    // recall floor: ~0.42 observed at sf0.01 with the 3-bucketing
    // OR-construction (a single bucketing measured 0.02 — disconnected
    // graph); 0.25 guards regression to that failure mode
    val brute = graft.ops.Similarity.bruteForceTopK(
        Tables.embeddings(spark, sf), col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val got = a.map(t => (t._1, t._3)).toSet
    val recall = (brute & got).size.toDouble / brute.size
    assert(recall >= 0.25, s"hnsw recall regressed below 0.25: $recall")
  }

  test("mg_topk_agg: MG guarantee partition-invariant; exact when capacity covers the domain") {
    graft.functions.MgTopKAgg.register(spark)
    import org.apache.spark.sql.Row
    // skewed synthetic stream: key i ∈ [1,40] with frequency 410−10·i
    // (400 down to 10); 40 distinct keys > capacity 16 forces real
    // decrements and merge subtractions
    val rows  = (1 to 40).flatMap(i => Seq.fill(410 - i * 10)(i.toLong))
    val exact = rows.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val n     = rows.size
    def run(capacity: Int, parts: Int): (Long, Map[Long, Long]) = {
      val s = rows.toDF("k").repartition(parts)
        .agg(call_function("mg_topk_agg", col("k"), lit(capacity)).as("s"))
        .head().getStruct(0)
      (s.getLong(0),
        s.getSeq[Row](1).map(e => e.getLong(1) -> e.getLong(0)).toMap)
    }
    // the COUNTER VALUES may differ across merge shapes (inherent to
    // MG) — the guarantee triple must not
    for (parts <- Seq(1, 7, 32)) {
      val (err, items) = run(capacity = 16, parts)
      assert(err <= n / 17, s"err $err exceeds n/(c+1) at $parts partitions")
      // 40 keys > capacity 16 MUST cost error: err == 0 here means the
      // capacity branch is dead and state grew unbounded (the r10
      // LongMap.getOrNull unboxing bug — missing Long keys read as 0L,
      // so the null check never fired and updates never decremented)
      assert(err > 0, s"no decrement ever fired at $parts partitions")
      items.foreach { case (tag, est) =>
        assert(est <= exact(tag) && exact(tag) <= est + err,
          s"tag $tag est $est outside [true-err, true] at $parts partitions")
      }
      exact.filter(_._2 > err).keys.foreach(k =>
        assert(items.contains(k),
          s"heavy key $k (true ${exact(k)} > err $err) missing at $parts partitions"))
    }
    // capacity ≥ distinct keys → no subtraction ever fires: the summary
    // IS the exact count map, identically under any partitioning
    for (parts <- Seq(1, 13)) {
      val (err, items) = run(capacity = 64, parts)
      assert(err == 0L && items == exact,
        s"capacity-covered summary not exact at $parts partitions")
    }
  }

  test("hll_source_snapshots: the snapshot fold equals the one-shot estimate") {
    // mergeability contract: folding generation 1's persisted state
    // with generation 2's must be indistinguishable from one pass over
    // the full history
    val folded = SparkEntry.queries("hll_source_snapshots")(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (b, r) = graft.ops.HllSketch.bucketRho(spark, col("k"))
    val oneShot = graft.ops.HllSketch.estimate(
        Tables.documents(spark, sf)
          .select(col("source"), md5(col("text").cast("binary")).as("k"))
          .select(col("source"), b, r)
          .groupBy("source", "bucket").agg(max("rho").as("rho")),
        Seq("source"))
      .orderBy("source")
      .collect().map(x => (x.getString(0), x.getLong(1)))
    assert(folded.sameElements(oneShot),
      s"snapshot fold drifted: ${folded.toSeq} vs ${oneShot.toSeq}")
  }

  test("corpus_temperature_mix: exact integer sqrt weights, budget-consistent quotas") {
    val rows = SparkEntry.queries("corpus_temperature_mix")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (chars, w) = (r.getAs[Long]("n_chars"), r.getAs[Long]("w_sqrt"))
      assert(w * w <= chars && chars < (w + 1) * (w + 1),
        s"w_sqrt not the integer sqrt: $r")
    }
    // half-up rounding keeps the summed quota within ±(n_sources/2)+1
    // of the budget, and the u4 shares within the same slack of 10^4
    val qSum = rows.map(_.getAs[Long]("quota_chars")).sum
    assert(math.abs(qSum - 1000000L) <= rows.length / 2 + 1,
      s"quota sum $qSum drifted from the 1e6 budget")
    val sSum = rows.map(_.getAs[Long]("share_u4")).sum
    assert(math.abs(sSum - 10000L) <= rows.length / 2 + 1,
      s"u4 share sum $sSum drifted from 10^4")
    // temperature flattening: the weight RATIO between the largest and
    // smallest source is the sqrt of the size ratio (never steeper)
    val mx = rows.maxBy(_.getAs[Long]("n_chars"))
    val mn = rows.minBy(_.getAs[Long]("n_chars"))
    val sizeRatio = mx.getAs[Long]("n_chars").toDouble / mn.getAs[Long]("n_chars")
    val wRatio = mx.getAs[Long]("w_sqrt").toDouble / mn.getAs[Long]("w_sqrt")
    assert(wRatio <= sizeRatio, "temperature failed to flatten the head")
  }

  test("corpus_mix_alpha_sweep: temperature monotonically flattens shares") {
    val rows = SparkEntry.queries("corpus_mix_alpha_sweep")(spark, sf).collect()
      .map(r => (r.getAs[Long]("alpha_u4"), r.getAs[String]("source"),
        r.getAs[Long]("w"), r.getAs[Long]("share_u4")))
    assert(rows.map(_._1).distinct.sorted.sameElements(Array(2500L, 5000L, 10000L)))
    // per-α shares sum to ~10^4 (half-up slack)
    rows.groupBy(_._1).foreach { case (a, rs) =>
      val s = rs.map(_._4).sum
      assert(math.abs(s - 10000L) <= rs.length / 2 + 1, s"α=$a share sum $s")
    }
    // lowering α must not RAISE the biggest source's share nor LOWER
    // the smallest's — the flattening direction, per source extreme
    val byAlpha = rows.groupBy(_._1).view.mapValues(_.map(r => r._2 -> r._4).toMap)
    val w1 = rows.filter(_._1 == 10000L)
    val big = w1.maxBy(_._3)._2
    val small = w1.minBy(_._3)._2
    assert(byAlpha(10000L)(big) >= byAlpha(5000L)(big) &&
      byAlpha(5000L)(big) >= byAlpha(2500L)(big),
      "largest source's share did not shrink as α fell")
    assert(byAlpha(10000L)(small) <= byAlpha(5000L)(small) &&
      byAlpha(5000L)(small) <= byAlpha(2500L)(small),
      "smallest source's share did not grow as α fell")
  }

  test("ann agreement: per-probe jaccard replays from the two engine top-5 sets") {
    val rows = SparkEntry.queries("emb_ann_agreement")(spark, sf).collect()
    val emb = Tables.embeddings(spark, sf)
    def sets(df: org.apache.spark.sql.DataFrame) = df.collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .view.mapValues(_.map(_.getAs[Long]("neighbor_id")).toSet).toMap
    val ivf = sets(Similarity.ivfTopK(emb, col("vec_id") < 10, k = 5))
    val lsh = sets(Similarity.lshTopK(emb, col("vec_id") < 10, k = 5))
    assert(rows.map(_.getAs[Long]("probe_id")).toSet == (ivf.keySet ++ lsh.keySet))
    rows.foreach { r =>
      val p = r.getAs[Long]("probe_id")
      val (a, b) = (ivf.getOrElse(p, Set.empty), lsh.getOrElse(p, Set.empty))
      val common = (a & b).size.toLong
      assert(r.getAs[Long]("n_ivf") == a.size.toLong)
      assert(r.getAs[Long]("n_lsh") == b.size.toLong)
      assert(r.getAs[Long]("n_common") == common)
      assert(r.getAs[Long]("jaccard_u4") ==
        common * 10000L / (a.size + b.size - common), s"probe $p")
    }
  }

  test("mmr diversify: greedy picks replay from the quantized candidate set") {
    def q(v: Double): Long =
      BigDecimal(v).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val rows = SparkEntry.queries("emb_mmr_diversify")(spark, sf).collect()
    val cand = Similarity.lshTopK(Tables.embeddings(spark, sf),
        col("vec_id") < 10, k = 5)
      .collect().map(r => (r.getAs[Long]("probe_id"),
        r.getAs[Long]("neighbor_id"), q(r.getAs[Double]("cos") * 10000)))
    val vecs = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def simq(a: Long, b: Long): Long = {
      val (x, y) = (vecs(a), vecs(b))
      def dot(p: Array[Double], r: Array[Double]) =
        p.zip(r).map { case (m, n) => m * n }.sum
      q(dot(x, y) / (math.sqrt(dot(x, x)) * math.sqrt(dot(y, y))) * 10000)
    }
    val exp = cand.groupBy(_._1).flatMap { case (p, cs0) =>
      var picked = List.empty[Long]
      var out = List.empty[(Long, Long, Long, Long, Long)]
      var rest = cs0.map(c => (c._2, c._3)).toSeq
      for (pick <- 1 to math.min(3, rest.size + picked.size)
           if rest.nonEmpty) {
        val scored = rest.map { case (cid, rel) =>
          val s = if (picked.isEmpty) 7 * rel
                  else 7 * rel - 3 * picked.map(simq(cid, _)).max
          (cid, rel, s)
        }
        val best = scored.minBy { case (cid, _, s) => (-s, cid) }
        out :+= ((p, pick.toLong, best._1, best._2, best._3))
        picked :+= best._1
        rest = rest.filterNot(_._1 == best._1)
      }
      out
    }.toSet
    val got = rows.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("pick"),
      r.getAs[Long]("neighbor_id"), r.getAs[Long]("rel_u4"),
      r.getAs[Long]("mmr_u5"))).toSet
    assert(got == exp)
    // no probe repeats a neighbor across its picks
    rows.groupBy(_.getAs[Long]("probe_id")).values.foreach { rs =>
      val ns = rs.map(_.getAs[Long]("neighbor_id"))
      assert(ns.distinct.length == ns.length)
    }
  }

  test("corpus_shuffle_audit: replays from raw labels; clumped order maximally clumps") {
    val rows = SparkEntry.queries("corpus_shuffle_audit")(spark, sf).collect()
      .map(r => r.getAs[String]("ordering") -> r).toMap
    assert(rows.keySet == Set("shuffled", "by_source"))
    val docs = Tables.documents(spark, sf).select("doc_id", "source").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val n = docs.length.toLong
    val bySrc = docs.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val expNum = bySrc.values.map(c => c * (c - 1)).sum
    // exact replay of both orderings with the engine hash
    def same(ord: Array[String]): Long =
      ord.sliding(2).count(p => p.length == 2 && p(0) == p(1)).toLong
    // engine rank order is (h DESC, doc_id ASC)
    val hDescIdAsc = Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)
    def ordered(key: (Long, String) => String): Array[String] = docs
      .map { case (id, src) =>
        (graft.functions.GraftHash64.hash(key(id, src).getBytes("UTF-8"), 7L), id, src)
      }
      .sortBy { case (h, id, _) => (h, id) }(hDescIdAsc).map(_._3)
    val shufSame = same(ordered((id, _) => id.toString))
    val clumpSame = same(ordered((_, src) => src))
    // by_source clumping is maximal: every within-source adjacency fires
    assert(clumpSame == n - bySrc.size)
    for ((name, exp) <- Seq("shuffled" -> shufSame, "by_source" -> clumpSame)) {
      val r = rows(name)
      assert(r.getAs[Long]("n_docs") == n)
      assert(r.getAs[Long]("n_pairs") == n - 1)
      assert(r.getAs[Long]("same_pairs") == exp, s"$name same_pairs")
      assert(r.getAs[Long]("obs_u6") == exp * 1000000L / (n - 1))
      assert(r.getAs[Long]("exp_u6") == expNum * 1000000L / (n * (n - 1)))
      assert(r.getAs[Long]("clump_x_u4") == exp * n * 10000L / expNum)
    }
    // and the audit separates the two orders by an order of magnitude
    assert(rows("by_source").getAs[Long]("clump_x_u4") >=
      10L * rows("shuffled").getAs[Long]("clump_x_u4"))
  }

  test("ann_ivf_append: appended generation is searchable through the frozen quantizer") {
    val emb = Tables.embeddings(spark, sf)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4")).head().getLong(0)
    val rows = SparkEntry.queries("ann_ivf_append")(spark, sf).collect()
    val probes = rows.map(_.getAs[Long]("probe_id")).distinct
    assert(probes.length == 10 && probes.forall(p => p >= thr && p < thr + 10),
      "probes must come from the appended generation")
    // every probe gets a full ranked list (its nprobe cells are
    // populated even though the quantizer never saw generation 2)
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Int]("rank")).sorted.sameElements(1 to 5),
        s"probe $p missing ranks")
    }
    // the frozen-quantizer index indexes the WHOLE corpus: appended
    // vectors must be reachable as neighbors somewhere in the results
    assert(rows.exists(_.getAs[Long]("neighbor_id") >= thr),
      "no appended vector ever surfaced as a neighbor — gen 2 unsearchable")
  }

  test("ann_lifecycle_e2e: five-stage audit log is coherent") {
    val rows = SparkEntry.queries("ann_lifecycle_e2e")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(rows.map(_._2).toSeq == Seq("build_index", "append_shard",
      "drift_check", "retrain_decision", "recall_audit"))
    val byStage = rows.map(r => r._2 -> r._3).toMap
    // build + append partition the corpus exactly
    assert(byStage("build_index") + byStage("append_shard") ==
      Tables.embeddings(spark, sf).count(),
      "gen1 + gen2 must cover every vector exactly once")
    assert(byStage("build_index") >= 8,
      "gen1 must be able to seed the 8-cell quantizer")
    // the decision row is the documented threshold applied to the
    // drift row — nothing else
    assert(byStage("retrain_decision") ==
      (if (byStage("drift_check") > 243200L) 1L else 0L),
      "retrain decision must be chi2_u4 > 243200")
    // recall is a u4 share of the brute-force slots
    assert(byStage("recall_audit") >= 0L && byStage("recall_audit") <= 10000L,
      s"recall_u4 out of range: ${byStage("recall_audit")}")
  }

  test("ann_hnsw_append: shard is searchable through the frozen graph") {
    val emb = Tables.embeddings(spark, sf)
    val thr = emb.agg(expr("3*(max(vec_id)+1) div 4")).head().getLong(0)
    val rows = SparkEntry.queries("ann_hnsw_append")(spark, sf).collect()
    val probes = rows.map(_.getAs[Long]("probe_id")).distinct
    assert(probes.length == 10 && probes.forall(p => p >= thr && p < thr + 10),
      "probes must come from the appended generation")
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      assert(rs.map(_.getAs[Long]("rank")).sorted.sameElements(1L to 5L),
        s"probe $p missing ranks")
    }
    // attachment edges run BOTH ways: appended vectors must be
    // reachable as neighbors (history→shard in-edges work) and
    // history must surface too (shard→history out-edges work)
    assert(rows.exists(_.getAs[Long]("neighbor_id") >= thr),
      "no appended vector surfaced — the in-edge direction is dead")
    assert(rows.exists(_.getAs[Long]("neighbor_id") < thr),
      "no history vector surfaced — the out-edge direction is dead")
  }

  test("bloom_fpr_audit: zero false negatives, rates fall as m grows") {
    val rows = SparkEntry.queries("bloom_fpr_audit")(spark, sf)
      .orderBy("m").collect()
    assert(rows.length == 3)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_member_pos") == r.getAs[Long]("n_members"),
        s"m=${r.getAs[Long]("m")}: a bloom false NEGATIVE is structurally " +
        "impossible — every member key must probe positive")
    }
    val emp  = rows.map(_.getAs[Long]("fpr_emp_u6"))
    val load = rows.map(_.getAs[Long]("fpr_load_u6"))
    assert(emp.zip(emp.tail).forall { case (a, b) => a >= b },
      s"empirical FPR should not grow with filter width: ${emp.toSeq}")
    assert(load.zip(load.tail).forall { case (a, b) => a > b },
      s"occupancy-implied FPR must strictly fall with m: ${load.toSeq}")
  }

  test("ann_ivf_lloyd_curve: inertia falls and assignment churn shrinks") {
    val rows = SparkEntry.queries("ann_ivf_lloyd_curve")(spark, sf)
      .orderBy("iter").collect()
    assert(rows.length == 3)
    assert(rows.head.getAs[Long]("n_moved") == 0L, "iter 0 has no predecessor")
    val inertia = rows.map(_.getAs[Long]("inertia_u6"))
    assert(inertia.zip(inertia.tail).forall { case (a, b) => a > b },
      s"each Lloyd step should reduce cosine inertia here: ${inertia.toSeq}")
    val moved = rows.tail.map(_.getAs[Long]("n_moved"))
    assert(moved.head > moved.last,
      s"assignment churn should shrink as the quantizer settles: ${moved.toSeq}")
  }

  test("vocab_bpe_apply totals reconcile with vocab_bpe_learn's curve") {
    val apply = SparkEntry.queries("vocab_bpe_apply")(spark, sf).collect()
    assert(apply.forall(r => r.getAs[Long]("n_syms") < r.getAs[Long]("n_chars")),
      "5 learned merges should compress every source below 1 symbol/char")
    assert(apply.forall(r => r.getAs[Long]("compression_u4") < 10000L))
    // the learn query's final syms_after is the corpus-wide weighted
    // symbol count — exactly the sum of the apply query's per-source
    // totals (same merges, same vocabulary, two independent rollups)
    val learnFinal = SparkEntry.queries("vocab_bpe_learn")(spark, sf)
      .orderBy(col("iter").desc).limit(1).collect().head
      .getAs[Long]("syms_after")
    val applyTotal = apply.map(_.getAs[Long]("n_syms")).sum
    assert(applyTotal == learnFinal,
      s"per-source totals ($applyTotal) must reconcile with the learn " +
      s"curve's final point ($learnFinal)")
  }

  test("topk_agg is exact and merge-order-invariant across partitionings") {
    graft.functions.TopKAgg.register(spark)
    val counts = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("cnt"))
      .localCheckpoint(false)
    // ground truth: full sort, same (cnt desc, user_id asc) order
    val ref = counts.collect().map(r => (r.getLong(1), r.getLong(0)))
      .sortBy { case (c, u) => (-c, u) }.take(10).toSeq
    // different partitionings force different partial-merge trees; an
    // associativity/commutativity bug shows up as order-dependent output
    for (parts <- Seq(1, 7, 32)) {
      val got = counts.repartition(parts)
        .agg(call_function("topk_agg", col("cnt"), col("user_id"), lit(10)).as("tk"))
        .select(explode(col("tk")).as("e"))
        .select(col("e.v"), col("e.tag"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == ref, s"topk_agg diverged at $parts partitions")
    }
    // saturation edge: k larger than the group count returns everything
    val small = counts.limit(3)
      .agg(call_function("topk_agg", col("cnt"), col("user_id"), lit(10)).as("tk"))
      .select(size(col("tk"))).head().getInt(0)
    assert(small == 3, "k > n must return all n pairs")
  }

  test("PQ ANN codes reconstruct near their vectors and rank sanely") {
    val pq = Similarity.pqTopK(Tables.embeddings(spark, sf), col("vec_id") < 10, k = 5)
      .collect()
    // in-bucket candidates only, k slots filled where the bucket allows
    val byProbe = pq.groupBy(_.getAs[Long]("probe_id"))
    byProbe.foreach { case (p, rows) =>
      val ranks = rows.map(_.getAs[Int]("rank")).sorted
      assert(ranks.toSeq == (1 to ranks.length), s"probe $p ranks not dense")
      // adc is a squared L2 of unit vectors: bounded by [0, 4] modulo
      // quantization error, and monotone with rank
      val byRank = rows.sortBy(_.getAs[Int]("rank")).map(_.getAs[Double]("adc"))
      assert(byRank.zip(byRank.tail).forall { case (a, b) => a <= b },
        s"probe $p adc not monotone with rank")
      assert(byRank.forall(d => d > -1e-9 && d < 4.5), s"probe $p adc out of range")
    }
    assert(pq.nonEmpty, "PQ should find in-bucket neighbors at sf0.001")
    // isolate the QUANTIZATION error from the bucket gating: against
    // exact cosine over the SAME 4-plane buckets (lshTopK), the 8×16
    // codebook ADC ranking must agree clearly above chance (picking 5
    // of a ~30-vector bucket at random overlaps ~0.17). The synthetic
    // embeddings are near-random, which is PQ's worst case — the
    // ann_pq_recall query exists to MEASURE that loss, the spec only
    // pins that the ranking carries real signal
    val exact = Similarity.lshTopK(Tables.embeddings(spark, sf), col("vec_id") < 10,
        k = 5, numPlanes = 4)
      .collect().map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val got = pq.map(r => (r.getAs[Long]("probe_id"), r.getAs[Long]("neighbor_id"))).toSet
    val agree = (exact & got).size.toDouble / exact.size
    assert(agree >= 0.25, s"PQ in-bucket ranking is no better than chance: $agree")
  }

  test("two-level sequence packing equals the sequential running sum") {
    val out = graft.ops.Pack.sequencePack(Tables.documents(spark, sf),
        maxTokens = 512L, blockSize = 64L)
      .orderBy("doc_id").collect()
    var cum = 0L
    out.foreach { r =>
      assert(r.getAs[Long]("cum_before") == cum, s"doc ${r.getLong(0)}")
      assert(r.getAs[Long]("bin") == cum / 512L)
      cum += r.getAs[Long]("n_tokens")
    }
  }

  test("filter chain: keep iff no reason fires; reasons use the fixed order") {
    val rows = SparkEntry.queries("text_filter_chain")(spark, sf).collect()
    assert(rows.length == 500)
    val order = Seq("too_short", "too_repetitive", "no_stopwords", "low_score")
    rows.foreach { r =>
      val keep = r.getAs[Long]("keep"); val reasons = r.getAs[String]("reasons")
      assert((keep == 1L) == reasons.isEmpty)
      if (reasons.nonEmpty) {
        val rs = reasons.split(",").toSeq
        assert(rs.forall(order.contains))
        assert(rs == order.filter(rs.contains), s"rule order broken: $reasons")
      }
    }
    assert(rows.exists(_.getAs[Long]("keep") == 0L), "expected some rejections")
    assert(rows.exists(_.getAs[Long]("keep") == 1L), "expected some keeps")
  }

  test("bloom prefilter has no false negatives and genuinely prunes") {
    val li = Tables.lineitem(spark, sf)
    val o96 = Tables.orders(spark, sf)
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
              col("o_orderdate") < lit("1997-01-01").cast("timestamp"))
    val truth = li.join(o96.select("o_orderkey").distinct(),
      li("l_orderkey") === col("o_orderkey"), "leftsemi").count()
    val pruned = graft.ops.Bloom.prefilter(li, o96, "l_orderkey", "o_orderkey")
    // no false negatives: every true match survives the pre-filter
    assert(pruned.count() >= truth)
    // real pruning: far fewer than the full probe side passes
    assert(pruned.count() < li.count() / 2,
      s"bloom should prune most of the probe side: ${pruned.count()} of ${li.count()}")
    // and the exact join removes the false positives
    assert(graft.ops.Bloom.semiJoin(li, o96, "l_orderkey", "o_orderkey").count() == truth)
  }

  test("scd2 merge closes only open rows and appends new versions") {
    import java.sql.Date
    val current = Seq(
      // key 1: one closed historic version + one open version
      (1L, 10.0, Date.valueOf("2020-01-01"), Date.valueOf("2020-06-01")),
      (1L, 12.0, Date.valueOf("2020-06-01"), null.asInstanceOf[Date]),
      // key 2: open only, no update arrives
      (2L, 20.0, Date.valueOf("2020-01-01"), null.asInstanceOf[Date]))
      .toDF("k", "price", "valid_from", "valid_to")
    val updates = Seq((1L, 15.0, Date.valueOf("2021-01-01")))
      .toDF("k", "price", "valid_from")
    val out = graft.ops.Scd2.merge(current, updates, key = "k")
      .orderBy("k", "valid_from").collect()
    assert(out.length == 4)
    // historic closed row untouched
    assert(out(0).getDate(3) == Date.valueOf("2020-06-01"))
    // open row of key 1 closed at the update's effective date
    assert(out(1).getDate(3) == Date.valueOf("2021-01-01"))
    // new version is the open row
    assert(out(2).getDouble(1) == 15.0 && out(2).getDate(3) == null)
    // untouched key stays open
    assert(out(3).getLong(0) == 2L && out(3).getDate(3) == null)
    // chain integrity: each key's valid_to equals the next valid_from
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.sortBy(_.getDate(2).toString).sliding(2).foreach {
        case Array(a, b) => assert(a.getDate(3) == b.getDate(2))
        case _ =>
      }
    }
  }

  test("top-k churn: each half fields a full leaderboard and statuses match the ranks") {
    val rows = SparkEntry.queries("events_topk_churn")(spark, sf).collect()
      .map(r => (r.getAs[Long]("rank_g1"), r.getAs[Long]("rank_g2"),
        r.getAs[Long]("n_g1"), r.getAs[Long]("n_g2"), r.getAs[String]("status")))
    // each half's leaderboard is a gapless 1..k_eff prefix (k_eff = 20
    // capped by the half's active-user count — 15 at the test scale)
    val (k1, k2) = (rows.count(_._1 > 0), rows.count(_._2 > 0))
    assert(k1 >= 1 && k1 <= 20 && k2 >= 1 && k2 <= 20)
    assert(rows.filter(_._1 > 0).map(_._1).sorted.toSeq == (1L to k1))
    assert(rows.filter(_._2 > 0).map(_._2).sorted.toSeq == (1L to k2))
    rows.foreach { case (r1, r2, n1, n2, st) =>
      val want = if (r1 > 0 && r2 > 0) "stayed" else if (r1 > 0) "left" else "entered"
      assert(st == want, s"status $st but ranks ($r1, $r2)")
      // a ranked user necessarily had activity in that half; the
      // OTHER half's backfilled count shows how far a mover fell/rose
      if (r1 > 0) assert(n1 > 0)
      if (r2 > 0) assert(n2 > 0)
    }
  }

  test("scd2 audit: a clean chain is all-zero; each corruption fires its own counter") {
    import java.sql.Date
    def d(s: String) = Date.valueOf(s)
    val sent = d("9999-12-31")
    def audit(rows: Seq[(Long, Date, Date)]) =
      graft.ops.Scd2.audit(rows.toDF("k", "valid_from", "valid_to"), key = "k").head()
    val clean = audit(Seq(
      (1L, d("2020-01-01"), d("2020-02-01")), (1L, d("2020-02-01"), sent),
      (2L, d("2020-01-05"), sent)))
    assert(clean.getAs[Long]("ok") == 1L && clean.getAs[Long]("n_keys") == 2L
      && clean.getAs[Long]("n_versions") == 3L)
    Seq("n_bad_interval", "n_overlaps", "n_gaps",
      "n_keys_multi_open", "n_keys_no_open")
      .foreach(c => assert(clean.getAs[Long](c) == 0L, c))
    // overlap: the second version starts before the first ends
    assert(audit(Seq((1L, d("2020-01-01"), d("2020-03-01")),
      (1L, d("2020-02-01"), sent))).getAs[Long]("n_overlaps") == 1L)
    // gap: a hole in the history
    assert(audit(Seq((1L, d("2020-01-01"), d("2020-02-01")),
      (1L, d("2020-03-01"), sent))).getAs[Long]("n_gaps") == 1L)
    // empty interval
    assert(audit(Seq((1L, d("2020-02-01"), d("2020-01-01")),
      (1L, d("2020-02-01"), sent))).getAs[Long]("n_bad_interval") == 1L)
    // two open rows on one key
    assert(audit(Seq((1L, d("2020-01-01"), sent), (1L, d("2020-02-01"), sent)))
      .getAs[Long]("n_keys_multi_open") == 1L)
    // no open row at all (and a null valid_to is NOT open)
    val noOpen = audit(Seq((1L, d("2020-01-01"), d("2020-02-01")),
      (2L, d("2020-01-01"), null.asInstanceOf[Date])))
    assert(noOpen.getAs[Long]("n_keys_no_open") == 2L
      && noOpen.getAs[Long]("ok") == 0L)
    // the real chain dim through the query surface is clean
    val q = SparkEntry.queries("scd2_overlap_audit")(spark, sf).head()
    assert(q.getAs[Long]("ok") == 1L && q.getAs[Long]("n_versions") > q.getAs[Long]("n_keys"))
  }

  test("scd2 GC preserves every point-in-time read at/after the horizon — and only those") {
    import spark.implicits._
    // versions [d0,d10) [d10,d20) [d20,inf); horizon d15 ⇒ only the
    // first version is droppable (valid_to d10 <= d15); the version
    // VALID AT the horizon ([d10,d20)) must survive
    def d(s: String) = java.sql.Date.valueOf(s)
    val dim = Seq(
      ("k1", 1.0, d("2024-01-01"), d("2024-01-10")),
      ("k1", 2.0, d("2024-01-10"), d("2024-01-20")),
      ("k1", 3.0, d("2024-01-20"), d("9999-12-31")),
      ("k2", 9.0, d("2024-01-05"), d("9999-12-31")))
      .toDF("k", "price", "valid_from", "valid_to")
    val hz = d("2024-01-15")
    val gced = dim.filter(col("valid_to") > lit(hz)) // the GC keep-rule
    def readAt(v: org.apache.spark.sql.DataFrame, q: java.sql.Date) = v
      .filter(col("valid_from") <= lit(q) && col("valid_to") > lit(q))
      .select("k", "price").collect().map(r => r.getString(0) -> r.getDouble(1))
      .toMap
    // reads at and after the horizon are untouched
    for (q <- Seq(hz, d("2024-01-17"), d("2024-01-25")))
      assert(readAt(gced, q) == readAt(dim, q), s"read at $q changed")
    // a pre-horizon read IS lost — the GC is not a no-op
    assert(readAt(dim, d("2024-01-05")) != readAt(gced, d("2024-01-05")))
    // and the audit the query emits counts exactly that one drop
    assert(dim.filter(col("valid_to") <= lit(hz)).count() == 1L)
  }

  test("scd2 merge chains across repeated batches: [d0,d1)[d1,d2)[d2,inf)") {
    import java.sql.Date
    val current = Seq(
      (1L, 10.0, Date.valueOf("2020-01-01"), null.asInstanceOf[Date]),
      (2L, 20.0, Date.valueOf("2020-01-01"), null.asInstanceOf[Date]))
      .toDF("k", "price", "valid_from", "valid_to")
    val b1 = Seq((1L, 11.0, Date.valueOf("2020-02-01")),
                 (2L, 21.0, Date.valueOf("2020-02-01"))).toDF("k", "price", "valid_from")
    val b2 = Seq((1L, 12.0, Date.valueOf("2020-03-01"))).toDF("k", "price", "valid_from")
    val out = graft.ops.Scd2.merge(
      graft.ops.Scd2.merge(current, b1, key = "k"), b2, key = "k")
      .orderBy("k", "valid_from").collect()
    assert(out.length == 5)
    // twice-updated key 1: the SECOND merge closes the row the FIRST
    // merge opened, never the original
    val k1 = out.filter(_.getLong(0) == 1L)
    assert(k1.map(r => (Option(r.getDate(2)).map(_.toString).orNull,
                        Option(r.getDate(3)).map(_.toString).orNull)).toSeq == Seq(
      ("2020-01-01", "2020-02-01"),
      ("2020-02-01", "2020-03-01"),
      ("2020-03-01", null)))
    assert(k1.map(_.getDouble(1)).toSeq == Seq(10.0, 11.0, 12.0))
    // once-updated key 2 unaffected by batch 2
    val k2 = out.filter(_.getLong(0) == 2L)
    assert(k2.map(r => Option(r.getDate(3)).map(_.toString).orNull).toSeq ==
      Seq("2020-02-01", null))
  }

  test("bucketed range join equals the naive range join") {
    val hourUs = 3600L * 1000000L
    val bucketed = SparkEntry.queries("events_range_join")(spark, sf).collect()
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"))
    val sg = e.filter(col("event_type") === "signup")
      .select(col("user_id").as("su"), col("event_id").as("signup_id"), col("ts_us").as("sts"))
    val er = e.filter(col("event_type") === "error")
      .select(col("user_id").as("eu"), col("ts_us").as("ets"))
    val naive = sg.join(er, col("su") === col("eu") &&
        col("ets") >= col("sts") && col("ets") < col("sts") + hourUs)
      .groupBy("signup_id").agg(count(lit(1)).as("n_errors"))
      .orderBy("signup_id").collect()
    assert(bucketed.map(_.toString).toSeq == naive.map(_.toString).toSeq)
    assert(bucketed.nonEmpty)
  }

  test("stratified sample takes at most k rows per stratum, deterministically") {
    val rows = SparkEntry.queries("sample_stratified")(spark, sf).collect()
    val byLang = rows.groupBy(_.getAs[String]("lang"))
    assert(byLang.size >= 2)
    byLang.values.foreach { g =>
      assert(g.length <= 20)
      // picked by stable doc_id order: the sample is the stratum's minima
      val ids = g.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("doc_id"))
      assert(ids.sorted.sameElements(ids))
    }
  }

  test("salted join returns exactly the plain join's aggregate") {
    val salted = SparkEntry.queries("skew_salted_join")(spark, sf).collect()
    val o = Tables.orders(spark, sf); val c = Tables.customer(spark, sf)
    val plain = o.join(c, o("o_custkey") === c("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(round(sum("o_totalprice"), 2).as("revenue"), count(lit(1)).as("n_orders"))
      .orderBy("c_mktsegment").collect()
    assert(salted.map(_.toString).toSeq == plain.map(_.toString).toSeq)
  }

  test("salted join fans the large side across all buckets") {
    val o = Tables.orders(spark, sf)
    val c = Tables.customer(spark, sf).withColumnRenamed("c_custkey", "o_custkey")
    val joined = Skew.saltedJoin(o, c, "o_custkey", buckets = 8, saltBy = col("o_orderkey"))
    // same row count as the plain join: replication did not duplicate matches
    val plainCount = o.join(c, Seq("o_custkey")).count()
    assert(joined.count() == plainCount)
  }

  test("as-of join picks the latest preceding payload, inclusive at ties") {
    import spark.implicits._
    val states = Seq((1L, 10L, "a"), (1L, 20L, "b"), (2L, 5L, "z"))
      .toDF("k", "t", "v")
    val lefts = Seq((100L, 1L, 5L), (101L, 1L, 10L), (102L, 1L, 15L),
      (103L, 1L, 25L), (104L, 2L, 4L), (105L, 3L, 50L))
      .toDF("id", "k", "t")
    val out = graft.ops.AsOf.joinAsOf(lefts, states, "k", "t", Seq("v"))
      .orderBy("id").collect().map(r => r.getLong(0) -> r.getAs[String]("v"))
    assert(out.toSeq == Seq(
      100L -> null,  // before any state
      101L -> "a",   // inclusive: state at exactly t=10 counts
      102L -> "a",
      103L -> "b",   // latest preceding wins
      104L -> null,
      105L -> null)) // key with no states at all
  }

  test("as-of joins refuse frames that use AsOf-reserved column names") {
    import spark.implicits._
    val states = Seq((1L, 10L, "a")).toDF("k", "t", "v")
    // a left frame already carrying asof_delta would be silently
    // shadowed by the output column (r10 ADVICE) — fail loudly instead
    val badLeft = Seq((100L, 1L, 5L, 9L)).toDF("id", "k", "t", "asof_delta")
    val e1 = intercept[IllegalArgumentException] {
      graft.ops.AsOf.joinAsOfNearest(badLeft, states, "k", "t", Seq("v"))
    }
    assert(e1.getMessage.contains("reserved by AsOf"))
    val badLeft2 = Seq((100L, 1L, 5L, "x")).toDF("id", "k", "t", "_pl")
    val e2 = intercept[IllegalArgumentException] {
      graft.ops.AsOf.joinAsOf(badLeft2, states, "k", "t", Seq("v"))
    }
    assert(e2.getMessage.contains("reserved by AsOf"))
    // a payload column named like a working column clashes too
    val badRight = Seq((1L, 10L, "a")).toDF("k", "t", "_rt")
    val e3 = intercept[IllegalArgumentException] {
      graft.ops.AsOf.joinAsOfNearest(
        Seq((100L, 1L, 5L)).toDF("id", "k", "t"), badRight, "k", "t", Seq("_rt"))
    }
    assert(e3.getMessage.contains("reserved by AsOf"))
  }

  test("ivfPqTopK refuses a corpus smaller than its quantizer sizes, loudly") {
    import spark.implicits._
    // 4 vectors < cells=8: the seed sample cannot fill the coarse
    // quantizer — the contract is a clear require message, not an
    // ArrayIndexOutOfBounds from a half-built codebook (VERDICT r10)
    val tiny = (1L to 4L).map(i => (i, Seq.fill(64)(i * 0.01f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      graft.ops.Similarity.ivfPqTopK(tiny, col("vec_id") <= 2, k = 2).collect()
    }
    assert(e.getMessage.contains("lower cells for tiny inputs"))
  }

  test("q_decimal_exact: emitted string renders an EXACT decimal sum") {
    // The oracled query emits total_exact as a canonical string (the
    // cross-engine hash is dtype-neutral that way); the exact-decimal
    // property itself is pinned HERE: the string must parse back to
    // precisely the BigDecimal sum of the per-row 2-dp prices — no
    // float drift anywhere on the audit path.
    val got = SparkEntry.queries("q_decimal_exact")(spark, sf)
      .collect().map(r => r.getString(0) -> BigDecimal(r.getString(1))).toMap
    val exp = Tables.orders(spark, sf)
      .select(col("o_orderstatus"), col("o_totalprice").cast("decimal(18,2)").as("p"))
      .collect()
      .groupBy(_.getString(0))
      .map { case (k, rows) =>
        k -> rows.map(r => BigDecimal(r.getDecimal(1))).sum.setScale(2) }
    assert(got == exp, s"decimal sums drifted: $got vs $exp")
    assert(got.values.forall(_.scale == 2))
  }

  test("linear attribution conserves purchase value across touch types + none") {
    val rows = SparkEntry.queries("events_attribution_linear")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    val total = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .agg(sum("value")).head().getDouble(0)
    // every purchase's value lands somewhere: split over its touches
    // or intact under 'none' — the fractional credits must re-sum to
    // the full purchase total (tolerance = per-type rounding at 2dp)
    assert(math.abs(rows.values.sum - total) < 0.05 * rows.size,
      s"credit leaked: ${rows.values.sum} vs $total")
    assert(rows.contains("none"))
  }

  test("temporal join picks the version valid at each query date") {
    val out = SparkEntry.queries("scd2_temporal_join")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val base = Tables.orders(spark, sf)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("p"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // +45d query date: %10 keys see the +30d update (price+100),
    // everyone else still sees the original version
    base.foreach { case (k, p) =>
      val expected = if (k % 10 == 0) math.round((p + 100.0) * 100) / 100.0 else p
      assert(out(k) == expected, s"key $k: ${out(k)} vs $expected")
    }
  }

  test("corpus_split partitions every doc deterministically, ~80/10/10") {
    val run1 = SparkEntry.queries("corpus_split")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val run2 = SparkEntry.queries("corpus_split")(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(run1 == run2, "split must be stable across runs")
    val total = Tables.documents(spark, sf).count()
    assert(run1.values.sum == total, "splits must partition the corpus exactly")
    // hash buckets are uniform enough that 80% ± 10pp holds even at
    // the 500-doc fixture
    assert(run1("train").toDouble / total > 0.70 &&
      run1("train").toDouble / total < 0.90, s"train share off: $run1")
  }

  test("prefix recall is bounded by 1 and full-vs-full recall is exactly 1") {
    val recalls = SparkEntry.queries("emb_prefix_recall")(spark, sf)
      .collect().map(_.getAs[Double]("recall"))
    assert(recalls.length == 10 && recalls.forall(r => r >= 0.0 && r <= 1.0))
    // the audit's fixed point: comparing the full embedding to itself
    // must report perfect recall for every probe
    val e = Tables.embeddings(spark, sf)
    val a = Similarity.bruteForceTopK(e, col("vec_id") < 10, k = 5)
      .select(col("probe_id"), col("neighbor_id"))
    val b = Similarity.bruteForceTopK(e, col("vec_id") < 10, k = 5)
      .select(col("probe_id").as("pp"), col("neighbor_id").as("pn"))
    val self = a.join(b, col("probe_id") === col("pp") &&
        col("neighbor_id") === col("pn"), "left_outer")
      .groupBy("probe_id").agg((count(col("pn")) / 5.0).as("recall"))
      .collect().map(_.getAs[Double]("recall"))
    assert(self.forall(_ == 1.0))
  }

  test("typed batch decode is deterministic and fully typed") {
    val out = Multimodal.decodeBatch(Tables.documents(spark, sf))
    val rows = out.collect()
    assert(rows.length == 500)
    assert(rows.forall(m => m.width >= 1 && m.width <= 1920 && m.channels == 3))
    assert(rows.forall(_.features.length == 8))
    val again = Multimodal.decodeBatch(Tables.documents(spark, sf)).collect()
    assert(rows.map(_.doc_id).sameElements(again.map(_.doc_id)))
    assert(rows.map(_.width).sameElements(again.map(_.width)))
  }

  test("bottom-k sampling is mergeable: bottomk(A union B) == merge of per-shard bottom-ks") {
    // the property that makes hash-min sampling a distributed
    // reservoir substitute: each shard keeps only its local bottom-k,
    // and merging shard samples (union + re-take) is EXACTLY the
    // bottom-k of the full dataset — no shard ever needs another
    // shard's data, so the sample composes across partitions, files,
    // and ingestion epochs
    graft.functions.GraftHash64.register(spark)
    val k = 100
    def bottomK(df: org.apache.spark.sql.DataFrame) = df
      .select(col("doc_id"),
        call_function("graft_hash64", col("doc_id").cast("string"), lit(13L)).as("h"))
      .orderBy(col("h").asc, col("doc_id")).limit(k)
    val docs = Tables.documents(spark, sf)
    val shardA = docs.filter(col("doc_id") % 2 === 0)
    val shardB = docs.filter(col("doc_id") % 2 =!= 0)
    val full   = bottomK(docs).collect().map(_.getLong(0))
    val merged = bottomK(bottomK(shardA).unionByName(bottomK(shardB)))
      .collect().map(_.getLong(0))
    assert(merged.sameElements(full),
      "merging per-shard bottom-k samples diverged from the global bottom-k")
    // and the plan must be the partial-top-k shape, never a global sort
    val plan = bottomK(docs).queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"bottom-k should plan as TakeOrderedAndProject, got:\n$plan")
  }

  test("peak concurrency stays within [0, n_sessions] (0 = all sessions zero-length)") {
    // half-open [start, end) semantics: a single-event session is empty
    // and holds no slot, so an all-singleton day legitimately peaks at 0
    val rows = SparkEntry.queries("m_sessions_concurrency")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, peak) = (r.getAs[Long]("n_sessions"), r.getAs[Long]("peak_concurrent"))
      assert(peak >= 0 && peak <= n,
        s"${r.getAs[java.sql.Date]("day")}: peak $peak outside [0, $n]")
    }
    // and at least one day in the fixture has real overlap
    assert(rows.exists(_.getAs[Long]("peak_concurrent") >= 1))
  }

  test("customer migration matrix: tiers in [1,4], transitions conserve linked customers") {
    val rows = SparkEntry.queries("q_customer_migration")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert((1L to 4L).contains(r.getAs[Long]("tier")))
      assert((1L to 4L).contains(r.getAs[Long]("next_tier")))
      assert(r.getAs[Long]("n_customers") > 0)
    }
    // matrix total == count of (customer, consecutive-quarter) links
    import org.apache.spark.sql.functions._
    val q = Tables.orders(spark, sf).select(col("o_custkey"),
        (year(date_trunc("quarter", col("o_orderdate"))) * 4 +
          quarter(date_trunc("quarter", col("o_orderdate")))).as("qidx"))
      .distinct()
    val links = q.join(q.select(col("o_custkey"), (col("qidx") - 1).as("qidx")),
      Seq("o_custkey", "qidx"), "left_semi").count()
    assert(rows.map(_.getAs[Long]("n_customers")).sum == links)
  }

  test("basket lift: canonical pair order, min support respected, lift positive") {
    val rows = SparkEntry.queries("q_basket_lift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    rows.foreach { r =>
      assert(r.getAs[Long]("pa") < r.getAs[Long]("pb"))
      assert(r.getAs[Long]("pair_cnt") >= 2)
      assert(r.getAs[Double]("lift") > 0.0)
    }
    // descending-lift order with deterministic tiebreaks
    val lifts = rows.map(_.getAs[Double]("lift"))
    assert(lifts.zip(lifts.tail).forall { case (a, b) => a >= b })
  }

  test("nearest as-of: emitted neighbor is optimal against a driver-side search") {
    val rows = SparkEntry.queries("events_asof_nearest")(spark, sf).collect()
    assert(rows.nonEmpty)
    val e = Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us")).collect()
    val errTs = e.filter(_.getString(2) == "error")
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val clicksByUser = e.filter(_.getString(2) == "click")
      .groupBy(_.getLong(0)).map { case (u, rs) => u -> rs.map(_.getLong(3)) }
    rows.foreach { r =>
      val u = r.getAs[Long]("user_id")
      val ts = errTs((u, r.getAs[Long]("event_id")))
      val clicks = clicksByUser.getOrElse(u, Array.empty[Long])
      if (clicks.isEmpty) {
        assert(r.isNullAt(r.fieldIndex("click_id")), "no clicks → null align")
      } else {
        val best = clicks.map(c => math.abs(c - ts)).min
        assert(r.getAs[Long]("asof_delta") == best,
          s"user $u: emitted delta ${r.getAs[Long]("asof_delta")} != optimal $best")
        val dir = r.getAs[String]("asof_dir")
        assert(dir == "b" || dir == "f")
        // ties must resolve backward: if a click at ts-best exists, dir is b
        if (clicks.contains(ts - best)) assert(dir == "b", s"tie must go backward")
      }
    }
  }

  test("point-in-time features: the k-th purchase sees exactly k-1 prior purchases") {
    val rows = SparkEntry.queries("events_pit_features")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val parts = r.getAs[Long]("prior_views") + r.getAs[Long]("prior_clicks") +
        r.getAs[Long]("prior_purchases")
      assert(parts <= r.getAs[Long]("prior_total"),
        "type counters cannot exceed the total prior count")
    }
    // leakage theorem, order-free form: a user's purchases see prior
    // counts {0, 1, …, P−1} exactly — any leak of the label itself or
    // a later purchase breaks the permutation
    rows.groupBy(_.getAs[Long]("user_id")).foreach { case (u, rs) =>
      val seen = rs.map(_.getAs[Long]("prior_purchases")).sorted.toSeq
      assert(seen == (0L until rs.length.toLong),
        s"user $u: prior-purchase counts $seen leak the label or a later event")
    }
  }

  test("ppm channel features: crafted image by hand, channels reconcile with the decode") {
    // 1×2 image, payload RGB RGB = (10,20,30)(40,50,60)
    val header = "P6\n1 2\n255\n".getBytes("US-ASCII")
    val body = Array[Byte](10, 20, 30, 40, 50, 60)
    val f = Multimodal.parsePpmFeat(99L, header ++ body)
    assert(f.width == 1 && f.height == 2)
    assert(f.r_sum == 50 && f.g_sum == 70 && f.b_sum == 90)
    assert(f.r_min == 10 && f.r_max == 40)
    assert(f.g_min == 20 && f.g_max == 50)
    assert(f.b_min == 30 && f.b_max == 60)
    // fixture path: per-channel sums must reconcile with the plain
    // decode audit's total byte sum, doc by doc
    val feats = SparkEntry.queries("mm_ppm_features")(spark, sf)
      .select(col("doc_id"),
        (col("r_sum") + col("g_sum") + col("b_sum")).as("s")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    SparkEntry.queries("mm_ppm_decode")(spark, sf)
      .select("doc_id", "pix_sum").collect().foreach { r =>
        assert(feats(r.getLong(0)) == r.getLong(1),
          s"doc ${r.getLong(0)}: channel sums do not add to the decode total")
      }
  }

  test("vocab coverage curve: monotone in N, clamps at the type count, saturates to 1") {
    val rows = SparkEntry.queries("vocab_coverage_curve")(spark, sf).collect()
      .sortBy(_.getAs[Long]("n"))
    assert(rows.nonEmpty)
    val nTypes = rows.head.getAs[Long]("n_types")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_vocab") == math.min(r.getAs[Long]("n"), nTypes))
      if (r.getAs[Long]("n") >= nTypes)
        assert(r.getAs[Long]("coverage_u4") == 10000L,
          "full vocabulary must cover every occurrence")
    }
    val cov = rows.map(_.getAs[Long]("coverage_u4"))
    assert(cov.zip(cov.tail).forall { case (a, b) => a <= b },
      "coverage must be non-decreasing in N")
  }

  test("session-gap sweep: session count monotone down in gap, events conserved") {
    val rows = SparkEntry.queries("events_session_gap_sweep")(spark, sf).collect()
    assert(rows.length == 3)
    // a longer inactivity gap can only MERGE sessions, never split them
    val sorted = rows.sortBy(_.getAs[Long]("gap_limit_us"))
    val ns = sorted.map(_.getAs[Long]("n_sessions"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b },
      s"session count must be non-increasing in the gap: ${ns.toSeq}")
    // every event belongs to a session and n_events is the table count
    val total = Tables.events(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_events") == total)
      assert(r.getAs[Long]("n_sessions") >= 1 && r.getAs[Long]("n_sessions") <= total)
    }
    // the 30-min row must agree with events_sessionize's session count
    val sess = SparkEntry.queries("events_sessionize")(spark, sf).count()
    assert(sorted(1).getAs[Long]("n_sessions") == sess,
      "sweep's 30-min point diverged from the sessionizer itself")
  }

  test("recall@k sweep: matches bounded by k·probes, recall@10 matches ann family") {
    val rows = SparkEntry.queries("emb_recall_vs_k")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 3)
    rows.foreach { r =>
      val k = r.getAs[Long]("k"); val m = r.getAs[Long]("n_matched")
      assert(m >= 0 && m <= k * r.getAs[Long]("n_probes"))
      assert(r.getAs[Long]("recall_u4") >= 0 && r.getAs[Long]("recall_u4") <= 10000)
    }
    // monotone containment: matches@k grows with k (top-k sets nest)
    val sorted = rows.sortBy(_.getAs[Long]("k"))
    val ms = sorted.map(_.getAs[Long]("n_matched"))
    assert(ms.zip(ms.tail).forall { case (a, b) => a <= b },
      "top-k sets nest, so agreement counts must be non-decreasing in k")
  }

  test("A/B readout: arms partition the users, summary columns are arm-invariant") {
    val rows = SparkEntry.queries("events_ab_readout")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("arm")).sorted.toSeq == Seq("A", "B"))
    val users = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.map(_.getAs[Long]("n_users")).sum == users,
      "arms must partition the user set")
    rows.foreach { r =>
      assert(r.getAs[Long]("n_conv") <= r.getAs[Long]("n_users"))
      assert(r.getAs[Long]("conv_u4") >= 0 && r.getAs[Long]("conv_u4") <= 10000)
    }
    // lift/chi2 are experiment-level: identical on both arm rows, and
    // the absolute lift is exactly the quantized-rate difference
    assert(rows.map(_.getAs[Long]("lift_u4")).distinct.length == 1)
    val byArm = rows.map(r => r.getAs[String]("arm") -> r.getAs[Long]("conv_u4")).toMap
    assert(rows.head.getAs[Long]("lift_u4") == byArm("B") - byArm("A"))
    rows.foreach { r =>
      val c = r.getAs[java.lang.Long]("chi2_u4")
      if (c != null) assert(c >= 0L, "chi-square is a square — never negative")
    }
  }

  test("simhash bit balance: counts bounded, max consistent, narrow-corpus bias pinned") {
    val rows = SparkEntry.queries("text_simhash_bit_balance")(spark, sf).collect()
    assert(rows.length == 64)
    val nDocs = graft.ops.Dedup.simhashSignatures(
      Tables.documents(spark, sf)).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_ones") >= 0 && r.getAs[Long]("n_ones") <= nDocs)
      assert(r.getAs[Long]("bias_u4") >= 0 && r.getAs[Long]("bias_u4") <= 10000)
    }
    assert(rows.map(_.getAs[Long]("max_bias_u4")).distinct.toSeq ==
      Seq(rows.map(_.getAs[Long]("bias_u4")).max))
    // the audit's REASON to exist, demonstrated: this corpus's ~100-word
    // vocabulary makes doc majorities track the shared high-tf tokens,
    // so many bits are heavily biased and some are fully stuck — the
    // effective signature width is far below 64. Pin the finding (it is
    // a corpus property, deterministic under the portable hash).
    assert(rows.count(_.getAs[Long]("bias_u4") == 10000) >= 1,
      "fixture regression: the small-vocab corpus used to expose stuck bits")
    assert(rows.exists(_.getAs[Long]("bias_u4") < 5000),
      "at least some bits must still split the corpus")
  }

  test("stats histogram: equal depth within one row, ordered boundaries, sane NDV") {
    val rows = SparkEntry.queries("q_stats_histogram")(spark, sf).collect()
    assert(rows.length == 16)
    val depths = rows.map(_.getAs[Long]("n_rows"))
    assert(depths.max - depths.min <= 1, s"equi-depth violated: ${depths.toSeq}")
    // buckets rank by value DESC: boundaries must be non-increasing
    // across buckets and consistent within
    val sorted = rows.sortBy(_.getAs[Long]("bucket"))
    sorted.foreach { r =>
      assert(r.getAs[Long]("lo_c") <= r.getAs[Long]("hi_c"))
      val ndv = r.getAs[Long]("ndv")
      assert(ndv >= 1 && ndv <= r.getAs[Long]("n_rows"))
    }
    val his = sorted.map(_.getAs[Long]("hi_c"))
    assert(his.zip(his.tail).forall { case (a, b) => a >= b },
      "bucket boundaries out of order")
    // total depth == table count
    assert(depths.sum == Tables.orders(spark, sf).count())
  }

  test("RRF fusion: consensus dominance theorem and score-range consistency") {
    val rows = SparkEntry.queries("emb_rrf_fusion")(spark, sf).collect()
    assert(rows.nonEmpty)
    // with k=5 and damping 60, a both-paths candidate scores >= 2/65
    // (u6 30770) while a single-path one scores <= 1/61 (u6 16393) —
    // consensus ALWAYS outranks a single path
    rows.groupBy(_.getAs[Long]("probe_id")).foreach { case (p, rs) =>
      val sorted = rs.sortBy(_.getAs[Long]("fused_rank"))
      val scores = sorted.map(_.getAs[Long]("rrf_u6"))
      assert(scores.zip(scores.tail).forall { case (a, b) => a >= b },
        s"probe $p: fused order not score-descending")
      val flags = sorted.map(r => r.getAs[Long]("in_ivf") + r.getAs[Long]("in_lsh"))
      val firstSingle = flags.indexWhere(_ == 1L)
      if (firstSingle >= 0)
        assert(flags.drop(firstSingle).forall(_ == 1L),
          s"probe $p: a consensus candidate ranks below a single-path one")
    }
    rows.foreach { r =>
      val both = r.getAs[Long]("in_ivf") + r.getAs[Long]("in_lsh")
      val s = r.getAs[Long]("rrf_u6")
      if (both == 2L) assert(s >= 30769L && s <= 32787L)
      else assert(s >= 15385L && s <= 16393L)
    }
  }

  test("z-order layout: quadrant boxes beat insertion order by a wide margin") {
    val rows = SparkEntry.queries("q_zorder_layout")(spark, sf).collect()
    val byLayout = rows.groupBy(_.getAs[String]("layout"))
    assert(byLayout.keySet == Set("insertion", "zorder"))
    // both layouts partition the same table
    assert(byLayout("insertion").map(_.getAs[Long]("n_rows")).sum ==
      byLayout("zorder").map(_.getAs[Long]("n_rows")).sum)
    // the z layout's total bounding-box area (= what a min/max-stats
    // scan cannot skip) must be dramatically smaller; theory says ~16×
    // for a 4×4 grid, assert a conservative 8×
    val ins = byLayout("insertion").head.getAs[Long]("layout_area")
    val zo = byLayout("zorder").head.getAs[Long]("layout_area")
    assert(zo * 8 < ins, s"z-order area $zo not ≪ insertion area $ins")
    // per-layout summary column is consistent with the per-bucket areas
    byLayout.foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("area")).sum == rs.head.getAs[Long]("layout_area"))
    }
  }

  test("hilbert layout: curve properties hold and the rollup replays from raw orders") {
    // pure-Scala mirror of the unrolled xy2d steps
    def xy2d(n: Long, x0: Long, y0: Long): Long = {
      var x = x0; var y = y0; var d = 0L; var s = n / 2
      while (s > 0) {
        val rx = (x / s) % 2; val ry = (y / s) % 2
        d += s * s * (if (ry == 0) 3 * rx else 1 + rx)
        if (ry == 0) {
          val nx = if (rx == 1) n - 1 - y else y
          val ny = if (rx == 1) n - 1 - x else x
          x = nx; y = ny
        }
        s /= 2
      }
      d
    }
    // curve properties on an 8×8 grid: bijection + unit steps
    val m = (for (x <- 0L until 8L; y <- 0L until 8L)
      yield xy2d(8, x, y) -> ((x, y))).toMap
    assert(m.size == 64 && m.keys.min == 0L && m.keys.max == 63L)
    (0L to 62L).foreach { i =>
      val (a, b) = (m(i), m(i + 1))
      assert(math.abs(a._1 - b._1) + math.abs(a._2 - b._2) == 1,
        s"hilbert step $i is not a unit step")
    }
    // full rollup replay at the query's 65536² grid
    val rows = SparkEntry.queries("layout_hilbert_audit")(spark, sf).collect()
      .map(r => r.getAs[String]("layout") -> r).toMap
    assert(rows.keySet == Set("hilbert", "zorder"))
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        col("o_orderdate").cast("date")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDate(2).toLocalDate.toEpochDay))
    val minD = o.map(_._3).min; val maxD = o.map(_._3).max
    val days = maxD - minD + 1; val maxCk = o.map(_._2).max
    val n = o.length.toLong
    val cells = o.map { case (ok, ck, ep) =>
      val dayidx = ep - minD
      val xs = ck * 65536 / (maxCk + 1); val ys = dayidx * 65536 / days
      val z = (0 until 16).map(i =>
        ((xs >> i) & 1L) * (1L << (2 * i + 1)) +
          ((ys >> i) & 1L) * (1L << (2 * i))).sum
      (ok, ck, dayidx, z, xy2d(65536, xs, ys))
    }
    // equal-row-count files in curve order: rank under (v DESC, key ASC)
    def rollup(v: ((Long, Long, Long, Long, Long)) => Long) = {
      val ranked = cells.sortBy(c => (v(c), c._1))(
        Ordering.Tuple2(Ordering.Long.reverse, Ordering.Long)).zipWithIndex
      val boxes = ranked.groupBy { case (_, i) => i.toLong * 16 / n }
        .values.map { g =>
          val cs = g.map(_._1)
          (cs.length.toLong,
            (cs.map(_._2).max - cs.map(_._2).min + 1) *
              (cs.map(_._3).max - cs.map(_._3).min + 1))
        }
      (boxes.size.toLong, boxes.map(_._1).sum, boxes.map(_._2).sum,
        boxes.map(_._2).max)
    }
    for ((name, f) <- Seq[(String, ((Long, Long, Long, Long, Long)) => Long)](
        "zorder" -> (_._4), "hilbert" -> (_._5))) {
      val (nb, nr, tot, mx) = rollup(f)
      val r = rows(name)
      assert((r.getAs[Long]("n_buckets"), r.getAs[Long]("n_rows"),
        r.getAs[Long]("total_area"), r.getAs[Long]("max_area")) ==
        ((nb, nr, tot, mx)), name)
    }
    // the audit's reason to exist: under equal-count files the Hilbert
    // layout's total skip-relevant area beats the Z layout's
    assert(rows("hilbert").getAs[Long]("total_area") <
      rows("zorder").getAs[Long]("total_area"))
  }

  test("LSH S-curve: band-nesting theorem holds and the widest config is the canary") {
    val rows = SparkEntry.queries("dedup_lsh_scurve")(spark, sf).collect()
    assert(rows.nonEmpty)
    // candidates CAME from the 32-band config, so it fires on 100%
    rows.filter(_.getAs[Long]("bands") == 32L)
      .foreach(r => assert(r.getAs[Long]("fire_u4") == 10000L))
    // nesting lemma: a narrower config's fire is always a wider one's
    // (band boundaries align), so per decile n_fired(8) <= n_fired(16)
    // <= n_fired(32) — and all configs share the same pair universe
    val byDecile = rows.groupBy(_.getAs[Long]("decile"))
    byDecile.foreach { case (d, rs) =>
      val f = rs.map(r => r.getAs[Long]("bands") -> r.getAs[Long]("n_fired")).toMap
      val n = rs.map(_.getAs[Long]("n_pairs")).distinct
      assert(n.length == 1, s"decile $d: configs disagree on the pair universe")
      assert(f(8L) <= f(16L) && f(16L) <= f(32L),
        s"decile $d: nesting violated $f")
    }
  }

  test("markov stationary: mass conserved within quantization, n_out matches transitions") {
    val rows = SparkEntry.queries("events_markov_stationary")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getAs[Long]("pi_u6") >= 0))
    // 3 half-up re-quantizations drift at most ~0.5 u6 per state per
    // step; 1% slack is orders of magnitude beyond that
    val mass = rows.map(_.getAs[Long]("pi_u6")).sum
    assert(mass > 990000L && mass < 1010000L, s"stationary mass $mass")
    // n_out re-derived from the independent transitions query
    val trans = SparkEntry.queries("events_transitions")(spark, sf).collect()
      .groupBy(_.getAs[String]("from_type"))
      .map { case (k, rs) => k -> rs.map(_.getAs[Long]("n")).sum }
    rows.foreach { r =>
      assert(r.getAs[Long]("n_out") ==
        trans.getOrElse(r.getAs[String]("event_type"), 0L))
    }
  }

  test("skyline: strict staircase, and exact match with a quadratic dominance oracle") {
    val rows = SparkEntry.queries("q_skyline")(spark, sf).collect()
    assert(rows.nonEmpty)
    // frontier shape: as price strictly rises, size strictly rises
    val ps = rows.map(r => (r.getAs[Long]("price_c"), r.getAs[Long]("size")))
    ps.zip(ps.tail).foreach { case ((p1, s1), (p2, s2)) =>
      assert(p1 < p2 && s1 < s2, s"($p1,$s1) -> ($p2,$s2) breaks the staircase")
    }
    // independent quadratic replay over the bounded distinct-point set
    val pts = Tables.part(spark, sf)
      .select(round(col("p_retailprice") * 100, 0).cast("long").as("p"),
        col("p_size").cast("long").as("sz"))
      .groupBy("p", "sz").count().collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val skyline = pts.filter { case (p, sz, _) =>
      !pts.exists { case (p2, sz2, _) =>
        p2 <= p && sz2 >= sz && (p2 < p || sz2 > sz) }
    }.map { case (p, sz, n) => (p, sz, n) }.sortBy(_._1)
    assert(rows.map(r => (r.getAs[Long]("price_c"), r.getAs[Long]("size"),
      r.getAs[Long]("n_parts"))).toSeq == skyline.toSeq)
  }

  test("wav features: crafted container replays by hand (stride-correct crossings)") {
    // stereo, frames L=[1,-1,0,2], R=[-3,3,-3,1] interleaved: crossings
    // per channel L: 1·-1 (yes), -1·0 (no), 0·2 (no) = 1;
    // R: -3·3, 3·-3, -3·1 = 3 → zc_n = 4
    val samples = Array[Short](1, -3, -1, 3, 0, -3, 2, 1)
    val dataSize = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(2).putInt(8000).putInt(8000 * 4)
      .putShort(4).putShort(16)
    bb.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(bb.putShort)
    val f = Multimodal.parseWavFeat(42L, bb.array())
    assert(f.n_samples == 8 && f.channels == 2)
    assert(f.zc_n == 4, s"stride-correct crossings, got ${f.zc_n}")
    assert(f.energy_l1 == samples.map(s => math.abs(s.toInt)).sum)
    assert(f.energy_l2 == samples.map(s => s.toLong * s).sum)
    assert(f.peak == 3)
    // and the fixture-driven path agrees with an in-test replay of the
    // synth formula for one real doc
    val row = SparkEntry.queries("mm_audio_features")(spark, sf)
      .filter(col("doc_id") === 7L).collect()(0)
    val len = Tables.documents(spark, sf).filter(col("doc_id") === 7L)
      .select(length(encode(col("text"), "UTF-8"))).collect()(0).getInt(0)
    val ch = 1 + (7 % 2); val ns = (64 + len % 64) * ch
    val xs = Array.tabulate(ns)(k => (((7L * 31 + k * 17) % 65536) - 32768).toInt)
    val zc = (ch until ns).count(k => xs(k - ch) * xs(k) < 0)
    assert(row.getAs[Long]("n_samples") == ns)
    assert(row.getAs[Long]("zc_n") == zc)
    assert(row.getAs[Long]("energy_l2") == xs.map(v => v.toLong * v).sum)
  }

  test("cell drift: generations partition the corpus, chi-square sums per cell") {
    val rows = SparkEntry.queries("emb_cell_drift")(spark, sf).collect()
    assert(rows.nonEmpty && rows.length <= 8)
    val nVec = Tables.embeddings(spark, sf).count()
    assert(rows.map(r => r.getAs[Long]("n_gen1") + r.getAs[Long]("n_gen2")).sum == nVec,
      "every vector must land in exactly one cell")
    val thr = Tables.embeddings(spark, sf)
      .agg(expr("3*(max(vec_id)+1) div 4")).collect()(0).getLong(0)
    val g1 = Tables.embeddings(spark, sf).filter(col("vec_id") < thr).count()
    assert(rows.map(_.getAs[Long]("n_gen1")).sum == g1,
      "generation masses must match the split")
    rows.foreach(r => assert(r.getAs[Long]("chi2_cell_u4") >= 0))
    assert(rows.map(_.getAs[Long]("chi2_total_u4")).distinct.toSeq ==
      Seq(rows.map(_.getAs[Long]("chi2_cell_u4")).sum))
  }

  test("join IVM: the delta fold lands exactly on the one-shot join aggregate") {
    val incr = SparkEntry.queries("m_join_incremental")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = Tables.orders(spark, sf)
      .select(col("o_custkey"),
        round(col("o_totalprice") * 100, 0).cast("long").as("cents"))
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy("c_nationkey")
      .agg(sum("cents").as("rev"), count(lit(1)).as("n")).collect()
      .map(r => r.getAs[Long]("c_nationkey") ->
        (r.getAs[Long]("rev"), r.getAs[Long]("n"))).toMap
    assert(incr == full, "incremental maintenance diverged from the one-shot view")
    // the fold really was a split: total order mass is conserved
    assert(incr.values.map(_._2).sum == Tables.orders(spark, sf).count())
  }

  test("Kaplan-Meier: censored users shape the risk sets they'd otherwise vanish from") {
    import spark.implicits._
    // u1/u2/u4 convert at lags 1/0/2; u3 never converts (censored at
    // the day-4 horizon); u5's only purchase PRECEDES its first view
    // (outside the funnel -> censored at lag 3)
    val ev = Seq(
      ("u1", "view", "2024-01-01"), ("u1", "purchase", "2024-01-02"),
      ("u2", "view", "2024-01-01"), ("u2", "purchase", "2024-01-01"),
      ("u3", "view", "2024-01-01"), ("u3", "view", "2024-01-05"),
      ("u4", "view", "2024-01-02"), ("u4", "purchase", "2024-01-04"),
      ("u5", "purchase", "2024-01-01"), ("u5", "view", "2024-01-02"))
      .toDF("user_id", "event_type", "s")
      .select(col("user_id"), col("event_type"), to_timestamp(col("s")).as("ts"))
    val got = graft.ops.Survival.kmCurve(ev).orderBy("t_day").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // risk sets 5/4/3 — u3 and u5 stay at risk through day 2; naive
    // converted-only analysis would report S(2) = 0
    assert(got.toSeq == Seq((0L, 5L, 1L, 0.8), (1L, 4L, 1L, 0.6),
      (2L, 3L, 1L, 0.4)), s"KM curve diverged: ${got.toSeq}")
  }

  test("Neyman allocation starves zero-variance strata and conserves the budget") {
    import spark.implicits._
    // A: constant (S=0) — many rows but NO information per extra draw;
    // B: high variance; C: low variance. Hand-computed:
    //   B: V=50·2500−250²=62500, u=62500 div 49=1275, w=⌊√63750⌋=252
    //   C: V=50·1300−250²=2500,  u=51,                w=⌊√2550⌋=50
    // budget 100 → Neyman bases 83/16 + 1 leftover to C's remainder;
    // proportional splits on N alone and hands A the most.
    val rows =
      Seq.fill(100)(("A", 5L)) ++
        (0 until 50).map(i => ("B", if (i % 2 == 0) 0L else 10L)) ++
        (0 until 50).map(i => ("C", if (i % 2 == 0) 4L else 6L))
    val df = rows.toDF("g", "x")
    val out = graft.ops.Sampling.neymanAlloc(df, col("g"), col("x"), 100L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n_rows"), r.getAs[Long]("w"),
          r.getAs[Long]("alloc_neyman"), r.getAs[Long]("alloc_prop"))).toMap
    assert(out == Map(
      "A" -> ((100L, 0L, 0L, 50L)),
      "B" -> ((50L, 252L, 83L, 25L)),
      "C" -> ((50L, 50L, 17L, 25L))))
    assert(out.values.map(_._3).sum == 100L && out.values.map(_._4).sum == 100L)
  }

  test("neymanAlloc all-zero weights fall back to uniform, Σn_h == budget") {
    import spark.implicits._
    // every stratum constant (S=0) → every Neyman weight 0; the r10
    // ADVICE degenerate case where the old apportionment handed out at
    // most one seat per stratum (Σ = 3, not 10)
    val df = (Seq.fill(5)(("A", 7L)) ++ Seq.fill(3)(("B", 2L)) ++ Seq(("C", 9L)))
      .toDF("g", "x")
    val out = graft.ops.Sampling.neymanAlloc(df, col("g"), col("x"), 10L)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("w"), r.getAs[Long]("alloc_neyman"))).toMap
    assert(out.values.forall(_._1 == 0L), s"expected all-zero weights: $out")
    assert(out.values.map(_._2).sum == 10L, s"budget not exhausted: $out")
    // uniform base 3 each + 1 leftover to the first stratum key
    assert(out.map { case (k, v) => k -> v._2 } ==
      Map("A" -> 4L, "B" -> 3L, "C" -> 3L))
  }

  test("rebalance plan: moves hit every quota exactly and total the minimum") {
    // replay the quotas in Scala from the raw per-month counts, then
    // check the emitted plan is a feasible transport: every donor
    // sends exactly its surplus, every receiver gets exactly its
    // deficit, total moved = Σ surpluses (the divisible-load optimum),
    // and the consecutive-interval pairing bounds the plan size
    val counts = Tables.lineitem(spark, sf)
      .groupBy(date_trunc("month", col("l_shipdate")).cast("date").as("part"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getAs[java.sql.Date]("part") -> r.getAs[Long]("n"))
      .sortBy(_._1.toString)
    val total = counts.map(_._2).sum; val p = counts.length
    val quota = counts.zipWithIndex.map { case ((part, _), i) =>
      part -> (total / p + (if (i < total % p) 1L else 0L))
    }.toMap
    val delta = counts.map { case (part, n) => part -> (n - quota(part)) }.toMap
    val plan = SparkEntry.queries("layout_rebalance_plan")(spark, sf).collect()
      .map(r => (r.getAs[java.sql.Date]("from_part"),
        r.getAs[java.sql.Date]("to_part"), r.getAs[Long]("n_moved")))
    assert(plan.forall(_._3 > 0))
    val sent = plan.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    val recv = plan.groupBy(_._2).view.mapValues(_.map(_._3).sum).toMap
    delta.foreach { case (part, d) =>
      assert(sent.getOrElse(part, 0L) == math.max(d, 0L), s"surplus of $part")
      assert(recv.getOrElse(part, 0L) == math.max(-d, 0L), s"deficit of $part")
    }
    val surplusTotal = delta.values.filter(_ > 0).sum
    assert(plan.map(_._3).sum == surplusTotal, "plan moves more than the optimum")
    val nDon = delta.values.count(_ > 0); val nRec = delta.values.count(_ < 0)
    assert(plan.length <= nDon + nRec - 1 || plan.isEmpty,
      s"${plan.length} moves from $nDon donors, $nRec receivers")
  }

  test("skipping audit: replays the two manifests and the clustered layout prunes") {
    val ev = Tables.events(spark, sf)
      .select(col("event_id"), expr("ts_ns div 1000").as("ts_us"), col("user_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val rpf = math.max(ev.length / 32, 1)
    def replay(sorted: Array[(Long, Long, Long)]): (Long, Long) = {
      val files = sorted.grouped(rpf).map { g =>
        (g.map(_._3).min, g.map(_._3).max) }.toArray
      val hits = files.map { case (lo, hi) =>
        (1L to 20L).count(p => p >= lo && p <= hi).toLong }.sum
      (files.length.toLong, hits)
    }
    // linear = (ts DESC, event_id ASC); clustered = (user_id DESC, id ASC)
    val lin = replay(ev.sortBy(e => (-e._2, e._1)))
    val clu = replay(ev.sortBy(e => (-e._3, e._1)))
    val rows = SparkEntry.queries("layout_skipping_audit")(spark, sf)
      .collect().map(r => r.getAs[String]("layout") ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("files_hit"),
          r.getAs[Long]("sel_u4"))).toMap
    assert(rows("linear") == (lin._1, lin._2,
      lin._2 * 10000 / (lin._1 * 20)))
    assert(rows("clustered") == (clu._1, clu._2,
      clu._2 * 10000 / (clu._1 * 20)))
    // the point of the audit: clustering must actually prune
    assert(rows("clustered")._3 < rows("linear")._3,
      s"clustered layout did not skip more than linear: $rows")
  }

  test("compaction plan: audit equals a driver replay of the contiguous packing") {
    // the manifest is tiny, so replay the whole plan in Scala: same
    // per-partition day order, exclusive prefix sum, bin = cum div 500
    val target = 500L
    val got = SparkEntry.queries("layout_compaction_plan")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    val manifest = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).cast("date").as("day"))
      .agg(count(lit(1)).as("sz")).collect()
      .map(r => (r.getString(0), r.getDate(1), r.getLong(2)))
    val ref = manifest.groupBy(_._1).map { case (et, fs) =>
      val sizes = fs.sortBy(_._2.toString).map(_._3)
      val cums = sizes.scanLeft(0L)(_ + _).init
      val bins = sizes.zip(cums).groupBy(_._2 / target).values.toSeq
      et -> (sizes.length.toLong,
        sizes.count(_ < target / 2).toLong,
        bins.length.toLong,
        sizes.sum,
        bins.filter(_.length >= 2).map(_.map(_._1).sum).sum)
    }
    assert(got == ref, s"plan diverged:\n got=$got\n ref=$ref")
    // and the plan actually helps on this landing cadence
    got.values.foreach { case (before, _, after, _, _) => assert(after < before) }
  }

  test("two-sided join IVM: the three-term delta fold lands on the one-shot join") {
    val incr = SparkEntry.queries("m_join_incremental_2s")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val full = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"),
        round(col("l_extendedprice") * 100, 0).cast("long").as("cents"))
      .join(Tables.orders(spark, sf), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(sum("cents").as("rev"), count(lit(1)).as("n")).collect()
      .map(r => r.getAs[String]("o_orderpriority") ->
        (r.getAs[Long]("rev"), r.getAs[Long]("n"))).toMap
    assert(incr == full, "two-sided maintenance diverged from the one-shot view")
    // the split is a genuine two-sided case: all three delta terms
    // carry rows (else this test would silently degrade to one-sided)
    val o = Tables.orders(spark, sf)
    val thr = o.agg(expr("3*(max(o_orderkey)+1) div 4")).collect()(0).getLong(0)
    val l = Tables.lineitem(spark, sf)
    def cnt(lNew: Boolean, rNew: Boolean) =
      l.filter(if (lNew) col("l_linenumber") >= 4 else col("l_linenumber") <= 3)
        .join(o.filter(if (rNew) col("o_orderkey") >= thr
          else col("o_orderkey") < thr), col("l_orderkey") === col("o_orderkey"))
        .count()
    assert(cnt(true, false) > 0 && cnt(false, true) > 0 && cnt(true, true) > 0,
      "expected non-empty ΔL⋈R, L⋈ΔR and ΔL⋈ΔR terms")
  }

  test("DQ expectations: healthy table passes every rule; detectors fire when violated") {
    val rows = SparkEntry.queries("dq_expectations")(spark, sf).collect()
    assert(rows.length == 5)
    val n = Tables.orders(spark, sf).count()
    rows.foreach { r =>
      assert(r.getAs[Long]("n_checked") == n)
      assert(r.getAs[Long]("pass") == 1L,
        s"contract rule ${r.getAs[String]("rule")} unexpectedly red on the fixture")
      assert(r.getAs[Long]("n_violations") == 0L)
    }
    // the detectors are not vacuous: the same predicates fire on a
    // deliberately broken frame (null key, dup key, negative price,
    // out-of-range date, dangling FK)
    import spark.implicits._
    val bad = Seq(
      (Option.empty[Long], 1L, -5.0, "1980-01-01"),
      (Option(1L), 1L, 10.0, "1996-01-01"),
      (Option(1L), -99L, 10.0, "1996-01-01"))
      .toDF("o_orderkey", "o_custkey", "o_totalprice", "d")
      .withColumn("o_orderdate", col("d").cast("timestamp"))
    val agg = bad.agg(
      sum(when(col("o_orderkey").isNull, 1L).otherwise(0L)),
      (count(lit(1)) - countDistinct("o_orderkey")),
      sum(when(col("o_totalprice") <= 0, 1L).otherwise(0L)),
      sum(when(col("o_orderdate") < lit("1992-01-01").cast("timestamp") ||
        col("o_orderdate") >= lit("2003-01-01").cast("timestamp"), 1L)
        .otherwise(0L))).collect()(0)
    // the count−distinct gap is 2 here: the duplicate pair contributes
    // 1 and the NULL key another (countDistinct skips nulls — on a
    // table that passes not_null the gap is exactly the dup count)
    assert(agg.getLong(0) == 1 && agg.getLong(1) == 2 &&
      agg.getLong(2) == 1 && agg.getLong(3) == 1)
    val dangling = bad.join(Tables.customer(spark, sf),
      bad("o_custkey") === col("c_custkey"), "left_anti").count()
    assert(dangling >= 1, "the FK detector must catch the dangling key")
  }

  test("SRM gate: split agrees with the readout's arms, flag matches the cross-multiply") {
    val r = SparkEntry.queries("events_ab_srm")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n") == r.getAs[Long]("n_a") + r.getAs[Long]("n_b"))
    assert(r.getAs[Long]("delta") ==
      math.abs(r.getAs[Long]("n_a") - r.getAs[Long]("n_b")))
    val flagged = r.getAs[Long]("delta") * r.getAs[Long]("delta") * 100 >
      384L * r.getAs[Long]("n")
    assert(r.getAs[Long]("srm_flag") == (if (flagged) 1L else 0L))
    // the same hash must bucket the same users as the readout
    val readout = SparkEntry.queries("events_ab_readout")(spark, sf).collect()
      .map(x => x.getAs[String]("arm") -> x.getAs[Long]("n_users")).toMap
    assert(r.getAs[Long]("n_a") == readout("A") &&
      r.getAs[Long]("n_b") == readout("B"),
      "SRM and readout disagree on the assignment itself")
  }

  test("CUPED: globals arm-invariant, reduction non-negative, adjustment conserves mass") {
    val rows = SparkEntry.queries("events_ab_cuped")(spark, sf).collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[Long]("theta_u6")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("var_reduction_u4")).distinct.length == 1)
    // θ is within 0.5e-6 of the OLS optimum, so the achieved reduction
    // cannot meaningfully undershoot zero
    assert(rows.head.getAs[Long]("var_reduction_u4") >= 0L)
    assert(rows.head.getAs[Long]("var_reduction_u4") <= 10000L)
    // Σ_a n_a·θ(x̄_a − x̄) = 0 exactly; with u4 rounding the weighted
    // drift of the adjustment is bounded by the user count
    val drift = rows.map(r => r.getAs[Long]("n_users") *
      (r.getAs[Long]("mean_post_u4") - r.getAs[Long]("adj_u4"))).sum
    val n = rows.map(_.getAs[Long]("n_users")).sum
    assert(math.abs(drift) <= n,
      s"adjustment shifted the overall mean: drift $drift over $n users")
  }

  test("DiD: summary columns arm-invariant and derived from the per-arm rows") {
    val rows = SparkEntry.queries("events_did")(spark, sf).collect()
    assert(rows.map(_.getAs[String]("arm")).toSeq == Seq("C", "T"))
    // the attached summary is identical on both rows
    assert(rows.map(_.getAs[Long]("did_c")).distinct.length == 1)
    assert(rows.map(_.getAs[Long]("trend_gap_u4")).distinct.length == 1)
    val byArm = rows.map(r => r.getAs[String]("arm") -> r).toMap
    // did is exactly the quantize-then-subtract of the per-arm deltas
    assert(rows.head.getAs[Long]("did_c") ==
      byArm("T").getAs[Long]("delta_c") - byArm("C").getAs[Long]("delta_c"))
    assert(rows.head.getAs[Long]("trend_gap_u4") ==
      byArm("T").getAs[Long]("slope_pre_u4") - byArm("C").getAs[Long]("slope_pre_u4"))
    // per-arm deltas reconcile with the period means
    rows.foreach { r =>
      assert(r.getAs[Long]("delta_c") ==
        r.getAs[Long]("mean_post_c") - r.getAs[Long]("mean_pre_c"))
      assert(r.getAs[Long]("n_pre") > 0 && r.getAs[Long]("n_post") > 0,
        "midpoint cut left a period empty")
    }
    // both arms cover every event exactly once
    assert(rows.map(r => r.getAs[Long]("n_pre") + r.getAs[Long]("n_post")).sum ==
      Tables.events(spark, sf).count())
  }

  test("DP release: noise replays the discrete-Laplace inverse CDF off the keyed hash") {
    val rows = SparkEntry.queries("dp_noisy_counts")(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent replica of the plan-time thresholds (ε=0.5, ±30)
    val alpha = math.exp(-0.5)
    val w = (-30 to 30).map(k => math.pow(alpha, math.abs(k)))
    val thr = w.scanLeft(0.0)(_ + _).tail.init
      .map(c => Math.round(c / w.sum * 1099511627776.0))
    import spark.implicits._
    graft.functions.GraftHash64.register(spark)
    val us = rows.map(_.getAs[String]("n_name")).toSeq.toDF("n_name")
      .select(col("n_name"), pmod(call_function("graft_hash64",
        col("n_name"), lit(777L)), lit(1099511627776L)).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val name = r.getAs[String]("n_name")
      val expNoise = thr.count(_ <= us(name)) - 30L
      assert(r.getAs[Long]("noise") == expNoise, s"noise mismatch for $name")
      assert(math.abs(r.getAs[Long]("noise")) <= 30)
      val rel = math.max(r.getAs[Long]("n_true") + r.getAs[Long]("noise"), 0L)
      assert(r.getAs[Long]("n_released") == rel)
      assert(r.getAs[Long]("suppressed") == (if (rel < 10) 1L else 0L))
    }
    // ε=0.5 noise must actually perturb: not every nation's noise is 0
    assert(rows.exists(_.getAs[Long]("noise") != 0L))
  }

  test("k-anonymity: histogram replays the QI grouping and covers every row") {
    val rows = SparkEntry.queries("privacy_k_anon")(spark, sf).collect()
    assert(rows.nonEmpty)
    // independent Scala replay of the QI classes off the raw table
    val classes = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"),
        graft.queries.Exact.cents(col("c_acctbal")).as("acct_c"))
      .collect()
      .groupBy(r => (r.getInt(0), r.getString(1), (r.getLong(2) + 100000L) / 200000L))
      .view.mapValues(_.length.toLong).values.toSeq
    val hist = classes.groupBy(identity).view.mapValues(_.length.toLong).toMap
    assert(rows.length == hist.size)
    rows.foreach { r =>
      val size = r.getAs[Long]("class_size")
      assert(r.getAs[Long]("n_classes") == hist(size), s"classes of size $size")
      assert(r.getAs[Long]("n_rows") == size * hist(size))
      assert(r.getAs[Long]("at_risk") == (if (size < 5) 1L else 0L))
    }
    // the histogram must account for every customer row exactly once
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      Tables.customer(spark, sf).count())
  }

  test("l-diversity: histogram replays the per-class distinct-sensitive counts") {
    val rows = SparkEntry.queries("privacy_l_diversity")(spark, sf).collect()
    assert(rows.nonEmpty)
    val classes = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"),
        graft.queries.Exact.cents(col("c_acctbal")).as("acct_c"))
      .collect()
      .groupBy(r => (r.getInt(0), (r.getLong(2) + 100000L) / 200000L))
      .view.mapValues(rs => (rs.length.toLong, rs.map(_.getString(1)).distinct.length.toLong))
      .values.toSeq
    val hist = classes.groupBy(_._2).view
      .mapValues(cs => (cs.size.toLong, cs.map(_._1).sum)).toMap
    assert(rows.length == hist.size)
    rows.foreach { r =>
      val l = r.getAs[Long]("n_sensitive")
      assert((r.getAs[Long]("n_classes"), r.getAs[Long]("n_rows")) == hist(l))
      assert(r.getAs[Long]("at_risk") == (if (l < 3) 1L else 0L))
    }
    assert(rows.map(_.getAs[Long]("n_rows")).sum ==
      Tables.customer(spark, sf).count())
  }

  test("ivfSilhouette: two engineered clusters score near 1, real cells stay bounded") {
    // seed order is the engine's multiplicative hash — compute it here
    // so the two cells=2 seeds land in DIFFERENT clusters by design
    val ids = (0L until 40L).toArray
    val seedOrder = ids.sortBy(id => ((id * 2654435761L) % 1000003L, id))
    val (s0, s1) = (seedOrder(0), seedOrder(1))
    val inA = ids.map(id =>
      id -> (if (id == s0) true else if (id == s1) false else id % 2 == 0)).toMap
    val vecs = ids.toSeq.map { id =>
      val v = Array.fill(64)(0.0)
      v(if (inA(id)) 0 else 1) = 1.0
      v(2 + (id % 8).toInt) = 0.01 // small deterministic jitter
      (id, v.toSeq)
    }.toDF("vec_id", "embedding")
    val rows = Similarity.ivfSilhouette(vecs, cells = 2, lloydIters = 1).collect()
    assert(rows.length == 40)
    assert(rows.map(_.getAs[Long]("cell")).distinct.sorted.sameElements(Array(0L, 1L)))
    // orthogonal clusters: every point sits ~10x closer to its own
    // centroid than to the other — silhouette must be high everywhere
    assert(rows.forall(_.getAs[Long]("s_u4") > 9000L))
    // the real-corpus query: 16 cells partitioning every vector
    val q = SparkEntry.queries("emb_silhouette")(spark, sf).collect()
    assert(q.length <= 16 && q.nonEmpty)
    assert(q.map(_.getAs[Long]("n_vecs")).sum == Tables.embeddings(spark, sf).count())
    q.foreach { r =>
      val (mn, mean, mx) = (r.getAs[Long]("min_s_u4"),
        r.getAs[Long]("mean_s_u4"), r.getAs[Long]("max_s_u4"))
      assert(mn <= mean && mean <= mx && mn >= 0L && mx <= 10000L)
    }
  }

  test("t-closeness: per-class EMD replays the integer variational distance") {
    val rows = SparkEntry.queries("privacy_t_closeness")(spark, sf).collect()
    assert(rows.nonEmpty)
    val raw = Tables.customer(spark, sf)
      .select(col("c_nationkey"), col("c_mktsegment"),
        graft.queries.Exact.cents(col("c_acctbal")).as("acct_c"))
      .collect()
      .map(r => ((r.getInt(0), (r.getLong(2) + 100000L) / 200000L), r.getString(1)))
    val nTot = raw.length.toLong
    val glob = raw.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val byClass = raw.groupBy(_._1)
    assert(rows.length == byClass.size)
    rows.foreach { r =>
      val key = (r.getAs[Int]("c_nationkey"), r.getAs[Long]("bal_band"))
      val members = byClass(key).map(_._2)
      val nC = members.length.toLong
      assert(r.getAs[Long]("class_size") == nC)
      // EMD numerator over ALL segments (absent ones via the global map)
      val dd = glob.map { case (seg, nS) =>
        val nCs = members.count(_ == seg).toLong
        BigInt(nCs) * nTot - BigInt(nS) * nC
      }.map(_.abs).sum
      val den = BigInt(2) * nC * nTot
      val emd = (BigInt(2) * dd * 10000 + den) / (BigInt(2) * den)
      assert(BigInt(r.getAs[Long]("emd_u4")) == emd, s"emd for $key")
      assert(r.getAs[Long]("emd_u4") <= 10000L)
      assert(r.getAs[Long]("at_risk") ==
        (if (r.getAs[Long]("emd_u4") > 2000L) 1L else 0L))
    }
    // coverage: classes partition the table
    assert(rows.map(_.getAs[Long]("class_size")).sum == nTot)
  }

  test("SPRT: llr is the quantized Wald walk over cumulative looks, boundaries honored") {
    val rows = SparkEntry.queries("events_ab_sprt")(spark, sf).collect()
    assert(rows.nonEmpty)
    // the design constants the query embeds (H0 .40 / H1 .50, α=β=.05)
    val l1  = Math.round(math.log(0.50 / 0.40) * 1e6)
    val l0  = Math.round(math.log(0.50 / 0.60) * 1e6)
    val thr = Math.round(math.log(19.0) * 1e6)
    var lastN, lastK = 0L
    rows.foreach { r =>
      val n = r.getAs[Long]("n_enrolled"); val k = r.getAs[Long]("n_converted")
      assert(n >= lastN && k >= lastK, "cumulative looks must be monotone")
      assert(k <= n)
      lastN = n; lastK = k
      val llr = r.getAs[Long]("llr_u6")
      assert(llr == k * l1 + (n - k) * l0, "llr is not the quantized Wald walk")
      val want =
        if (llr >= thr) "accept_h1" else if (llr <= -thr) "accept_h0" else "continue"
      assert(r.getAs[String]("decision") == want)
    }
    // the monitored arm must be the SRM/readout B arm: enrollment
    // totals agree with the readout's B-arm user count
    val readout = SparkEntry.queries("events_ab_readout")(spark, sf).collect()
      .map(x => x.getAs[String]("arm") -> x.getAs[Long]("n_users")).toMap
    assert(rows.last.getAs[Long]("n_enrolled") == readout("B"),
      "SPRT enrollment and readout B-arm assignment disagree")
  }

  test("CSV quarantine: bad rows isolate exactly, good rows keep their checksums") {
    val r = SparkEntry.queries("source_csv_quarantine")(spark, sf).collect()(0)
    assert(r.getAs[Long]("n_rows") ==
      r.getAs[Long]("n_bad") + r.getAs[Long]("n_good"))
    val o = Tables.orders(spark, sf)
    assert(r.getAs[Long]("n_rows") == o.count())
    assert(r.getAs[Long]("n_bad") ==
      o.filter(col("o_orderkey") % 97 === 0).count(),
      "quarantine must catch exactly the corrupted records")
    val goodSum = o.filter(col("o_orderkey") % 97 =!= 0)
      .agg(sum("o_orderkey")).collect()(0).getLong(0)
    assert(r.getAs[Long]("good_key_sum") == goodSum,
      "surviving rows lost or duplicated data through the text trip")
  }

  test("Poisson bootstrap: masses concentrate, original total is exact, spread sane") {
    val rows = SparkEntry.queries("sample_poisson_bootstrap")(spark, sf).collect()
    assert(rows.length == 8)
    val n = Tables.orders(spark, sf).count()
    val exact = Tables.orders(spark, sf)
      .agg(sum(round(col("o_totalprice") * 100, 0).cast("long"))).collect()(0).getLong(0)
    rows.foreach { r =>
      assert(r.getAs[Long]("orig_sum_c") == exact)
      // Σ of n Poisson(1) weights has SD √n — 20% slack is >5σ at any n≥700
      val m = r.getAs[Long]("n_drawn")
      assert(m > n * 8 / 10 && m < n * 12 / 10,
        s"replica mass $m far from the row count $n")
      assert(r.getAs[Long]("abs_dev_c") ==
        math.abs(r.getAs[Long]("sum_c") - exact))
    }
    // the bootstrap spread brackets the truth: not all replicas on one side
    val above = rows.count(_.getAs[Long]("sum_c") > exact)
    assert(above > 0 && above < 8,
      "all 8 replicas fell on one side of the original total")
  }

  test("AMS F2 sketch: x² consistency, half-up mean, exact F2 matches a groupBy audit") {
    val rows = SparkEntry.queries("sketch_ams_f2")(spark, sf).collect()
    assert(rows.length == 8, "one row per estimator")
    rows.foreach { r =>
      val x = r.getAs[Long]("x")
      assert(r.getAs[Long]("x_sq") == x * x)
    }
    // emitted mean estimate == half-up mean of the emitted squares
    val sumSq = rows.map(_.getAs[Long]("x_sq")).sum
    val estF2 = rows.head.getAs[Long]("est_f2")
    assert(estF2 == (2 * sumSq + 8) / 16, "est_f2 must be the half-up mean of x²")
    // exact side == an independent self-join-size computation
    val exact = Tables.events(spark, sf)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .agg(sum(expr("c*c"))).collect()(0).getLong(0)
    assert(rows.head.getAs[Long]("exact_f2") == exact)
    // 8 estimators keep the observed error well under 100% on the fixture
    assert(rows.head.getAs[Long]("err_u4") < 10000)
    // linearity: the sketch of a 2-shard split merges by plain addition
    val e = Tables.events(spark, sf)
      .select(col("user_id").cast("string").as("k"), col("event_id"))
    graft.functions.GraftHash64.register(spark)
    def x0(df: org.apache.spark.sql.DataFrame): Long = df.agg(sum(
      lit(1L) - lit(2L) * pmod(
        call_function("graft_hash64", col("k"), lit(301L)), lit(2L))))
      .collect()(0).getLong(0)
    val whole = x0(e)
    val parts = x0(e.filter(col("event_id") % 2 === 0)) +
      x0(e.filter(col("event_id") % 2 =!= 0))
    assert(whole == parts, "AMS is linear: shard sketches must add")
  }

  test("KS drift: CDFs complete, gap bounded, ks is the max, final gap is zero") {
    val rows = SparkEntry.queries("profile_ks_drift")(spark, sf).collect()
    assert(rows.nonEmpty)
    // cumulative counts are monotone in bin order and end at the totals
    val cumRef = rows.map(_.getAs[Long]("cum_ref"))
    val cumCur = rows.map(_.getAs[Long]("cum_cur"))
    assert(cumRef.zip(cumRef.tail).forall { case (a, b) => a <= b })
    assert(cumCur.zip(cumCur.tail).forall { case (a, b) => a <= b })
    assert(cumRef.last == rows.map(_.getAs[Long]("n_ref")).sum)
    assert(cumCur.last == rows.map(_.getAs[Long]("n_cur")).sum)
    // D ∈ [0, 1] in u6, the emitted ks is its max, and both CDFs end at
    // 1 so the final bin's gap is structurally zero
    val d = rows.map(_.getAs[Long]("d_u6"))
    assert(d.forall(v => v >= 0 && v <= 1000000))
    assert(rows.map(_.getAs[Long]("ks_u6")).distinct.toSeq == Seq(d.max))
    assert(d.last == 0, "CDFs both reach 1 at the top bin")
  }

  test("MAD anomaly: medians replayed on the driver, cut is the exact cross-multiply") {
    val rows = SparkEntry.queries("events_anomaly_mad")(spark, sf).collect()
    assert(rows.nonEmpty)
    // per-type constants are constant, dev4 is consistent, flag matches
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      assert(rs.map(_.getAs[Long]("med4")).distinct.length == 1)
      assert(rs.map(_.getAs[Long]("mad8")).distinct.length == 1)
    }
    rows.foreach { r =>
      assert(r.getAs[Long]("dev4") ==
        math.abs(4 * r.getAs[Long]("n") - r.getAs[Long]("med4")))
      val flagged = r.getAs[Long]("dev4") * 10000L > r.getAs[Long]("mad8") * 22239L
      assert(r.getAs[Long]("is_anomaly") == (if (flagged) 1L else 0L))
    }
    // med4/mad8 agree with a driver-side interpolated median of the
    // bounded daily-count table (the independent replay)
    def med4Of(xs: Seq[Long]): Long = {
      val s = xs.sorted
      if (s.length % 2 == 1) 4 * s(s.length / 2)
      else 2 * (s(s.length / 2 - 1) + s(s.length / 2))
    }
    rows.groupBy(_.getAs[String]("event_type")).foreach { case (_, rs) =>
      val counts = rs.map(_.getAs[Long]("n")).toSeq
      assert(rs.head.getAs[Long]("med4") == med4Of(counts))
      // mad8 = 2·median(dev4): dev4 values are integers, median may be
      // half-integral, so 2· is exact
      val dev4s = rs.map(_.getAs[Long]("dev4")).toSeq.sorted
      val mad8 = if (dev4s.length % 2 == 1) 2 * dev4s(dev4s.length / 2)
                 else dev4s(dev4s.length / 2 - 1) + dev4s(dev4s.length / 2)
      assert(rs.head.getAs[Long]("mad8") == mad8)
    }
  }

  test("dsir: budget is honored exactly and selection is target-shifted") {
    val docs = Tables.documents(spark, sf)
    val out = graft.ops.Select.dsir(docs).collect()
    val nDocs = docs.count()
    val nSel = out.map(_.getAs[Long]("n_sel")).sum
    // the rank threshold selects EXACTLY floor(N/5) docs — a budget,
    // not a per-source rate
    assert(nSel == nDocs / 5, s"selected $nSel of $nDocs")
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // importance resampling toward the English slice must score the
    // selected set higher than the corpus mean, in every source that
    // selected anything
    out.filter(_.getAs[Long]("n_sel") > 0).foreach { r =>
      assert(r.getAs[Double]("avg_logw_sel") >= r.getAs[Double]("avg_logw"),
        s"source ${r.getAs[String]("source")}: selected mean below corpus mean")
    }
  }

  test("dsir 2-gram: same budget contract, genuinely different feature space") {
    val docs = Tables.documents(spark, sf)
    val out = graft.ops.Select.dsir(docs, ngram = 2).collect()
    val nDocs = docs.count()
    // the budget contract carries over unchanged: exactly floor(N/5)
    assert(out.map(_.getAs[Long]("n_sel")).sum == nDocs / 5)
    // no doc short enough to drop from the bigram scored set on this
    // corpus — the audit covers every doc, like the unigram key
    assert(out.map(_.getAs[Long]("n_docs")).sum == nDocs)
    // target shift holds under the bigram model too
    out.filter(_.getAs[Long]("n_sel") > 0).foreach { r =>
      assert(r.getAs[Double]("avg_logw_sel") >= r.getAs[Double]("avg_logw"))
    }
    // and the feature space is genuinely different: the bigram scores
    // are not a rescaling of the unigram scores (some rank must flip)
    val r1 = graft.ops.Select.dsirRanked(
        docs.select("doc_id", "source", "lang", "text"))
      .select("doc_id", "rnk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val r2 = graft.ops.Select.dsirRanked(
        docs.select("doc_id", "source", "lang", "text"), ngram = 2)
      .select("doc_id", "rnk").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(r1.keySet == r2.keySet)
    assert(r1.exists { case (d, k) => r2(d) != k },
      "bigram ranking identical to unigram — feature change is dead")
  }

  test("doremi: weights are a smoothed distribution and upweight high-excess domains") {
    val out = graft.ops.Select.doremi(Tables.documents(spark, sf)).collect()
    val d = out.length.toDouble
    val wSum = out.map(_.getAs[Double]("weight")).sum
    assert(math.abs(wSum - 1.0) < 1e-3, s"weights sum to $wSum")
    // smoothing floor: every weight ≥ δ/D with δ = 1/50
    out.foreach(r => assert(r.getAs[Double]("weight") >= 1.0 / (50 * d) - 1e-9))
    // excess loss is a KL — nonnegative
    out.foreach(r => assert(r.getAs[Double]("excess_loss") >= -1e-9))
    // monotone coupling: the domain with the max final excess loss
    // must not carry the minimum weight
    val byEps = out.sortBy(_.getAs[Double]("excess_loss"))
    assert(byEps.last.getAs[Double]("weight") >=
      byEps.head.getAs[Double]("weight"),
      "max-excess domain ended below min-excess domain")
  }

  test("dsir sweep: exact budgets, monotone capture, top-k mean non-increasing") {
    val rows = SparkEntry.queries("corpus_dsir_sweep")(spark, sf)
      .collect().sortBy(_.getAs[Long]("frac_pct"))
    assert(rows.map(_.getAs[Long]("frac_pct")).toSeq == Seq(10L, 20L, 40L))
    val n = Tables.documents(spark, sf).count()
    rows.foreach(r => assert(r.getAs[Long]("n_sel") ==
      r.getAs[Long]("frac_pct") * n / 100, "budget must land exactly"))
    // widening the budget can only add lower-ranked docs: capture grows,
    // the selected mean never rises
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("n_sel_target") <= b.getAs[Long]("n_sel_target"))
      assert(a.getAs[Double]("avg_logw_sel") >= b.getAs[Double]("avg_logw_sel"))
    }
    // the 20% row is corpus_dsir's budget: selected totals must agree
    val dsirSel = SparkEntry.queries("corpus_dsir")(spark, sf)
      .collect().map(_.getAs[Long]("n_sel")).sum
    assert(rows(1).getAs[Long]("n_sel") == dsirSel)
  }

  test("curriculum: equal-count shards with a monotone quality envelope") {
    val rows = SparkEntry.queries("corpus_curriculum")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shard"))
    assert(rows.map(_.getAs[Long]("shard")).toSeq == (0L to 7L))
    val n = Tables.documents(spark, sf).count()
    assert(rows.map(_.getAs[Long]("n_docs")).sum == n, "shards must partition")
    // equal-count cut: every shard within one doc of n/8
    rows.foreach(r => assert(math.abs(r.getAs[Long]("n_docs") - n / 8) <= 1))
    rows.foreach(r => assert(r.getAs[Long]("min_qu4") <= r.getAs[Long]("max_qu4")))
    // rank-desc order makes the envelope monotone across shards
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("min_qu4") >= b.getAs[Long]("max_qu4"),
        s"shard ${a.getAs[Long]("shard")}→${b.getAs[Long]("shard")} envelope overlap")
    }
  }

  test("token curriculum: equal token-mass shards, same monotone envelope") {
    val rows = SparkEntry.queries("corpus_curriculum_tokens")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shard"))
    val docs = Tables.documents(spark, sf)
    val tok = graft.ops.TextAnalysis.quality(docs)
      .select(col("n_tokens").cast("bigint"))
      .collect().map(_.getLong(0))
    val tot = tok.sum
    // shards partition the corpus and the token mass exactly
    assert(rows.map(_.getAs[Long]("n_docs")).sum == docs.count())
    assert(rows.map(_.getAs[Long]("sum_tokens")).sum == tot)
    // the cut is on token mass: every shard within one document's
    // tokens of the exact tot/8 target (the straddling-doc slack)
    val maxDoc = tok.max
    rows.foreach { r =>
      assert(math.abs(r.getAs[Long]("sum_tokens") - tot / 8) <= maxDoc + 8,
        s"shard ${r.getAs[Long]("shard")} mass ${r.getAs[Long]("sum_tokens")} " +
          s"far from ${tot / 8}")
    }
    // ordering is corpus_curriculum's, so the envelope stays monotone
    rows.foreach(r =>
      assert(r.getAs[Long]("min_qu4") <= r.getAs[Long]("max_qu4")))
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(a.getAs[Long]("min_qu4") >= b.getAs[Long]("max_qu4"),
        s"token-shard ${a.getAs[Long]("shard")} envelope overlap")
    }
    // and the token cut genuinely differs from the equal-count cut
    val byCount = SparkEntry.queries("corpus_curriculum")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shard")).map(_.getAs[Long]("n_docs"))
    assert(rows.map(_.getAs[Long]("n_docs")).toSeq != byCount.toSeq,
      "token-mass shards coincide with equal-count shards — dead variant")
  }

  test("pack e2e: within-shard bins reconcile with the token curriculum") {
    val packed = SparkEntry.queries("corpus_pack_e2e")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shard"))
    val shards = SparkEntry.queries("corpus_curriculum_tokens")(spark, sf)
      .collect().sortBy(_.getAs[Long]("shard"))
    // the shard cut IS corpus_curriculum_tokens' (same rank, same
    // prefix sum, same 8-way cut) — doc/token/envelope agree per shard
    packed.zip(shards).foreach { case (p, c) =>
      assert(p.getAs[Long]("n_docs") == c.getAs[Long]("n_docs"))
      assert(p.getAs[Long]("sum_tokens") == c.getAs[Long]("sum_tokens"))
      assert(p.getAs[Long]("min_qu4") == c.getAs[Long]("min_qu4"))
      assert(p.getAs[Long]("max_qu4") == c.getAs[Long]("max_qu4"))
    }
    packed.foreach { p =>
      val (seqs, toks) = (p.getAs[Long]("n_seqs"), p.getAs[Long]("sum_tokens"))
      // a bin opens only when the running mass crosses 2048, so the
      // sequence count brackets the token mass (straddle slack: each
      // bin's LAST doc may overflow the budget)
      assert(seqs >= toks / 2048L, s"shard ${p.getAs[Long]("shard")}: " +
        s"$seqs bins cannot hold $toks tokens")
      assert(seqs <= toks / 2048L + 1 + p.getAs[Long]("n_docs"),
        s"shard ${p.getAs[Long]("shard")}: too many bins")
      assert(p.getAs[Long]("fill_u4") > 0L)
    }
  }

  test("BPE packing: symbol mass reconciles with vocab_bpe_apply") {
    val bins = SparkEntry.queries("seq_pack_bpe")(spark, sf).collect()
    val apply = SparkEntry.queries("vocab_bpe_apply")(spark, sf).collect()
    // total packed symbol mass == the apply key's corpus symbol count
    assert(bins.map(_.getAs[Long]("n_bpe_tokens")).sum ==
      apply.map(_.getAs[Long]("n_syms")).sum,
      "packed BPE mass diverged from the segmentation audit")
    assert(bins.map(_.getAs[Long]("n_docs")).sum ==
      Tables.documents(spark, sf).count(), "bins must partition the corpus")
    // merges strictly compress: fewer BPE bins than character mass bins
    assert(bins.map(_.getAs[Long]("n_bpe_tokens")).sum <
      apply.map(_.getAs[Long]("n_chars")).sum)
  }

  test("capstone v3: empty quarantine preserves v2's chain, DSIR halves the gate") {
    def rows(k: String) = SparkEntry.queries(k)(spark, sf).collect()
      .map(r => r.getAs[Long]("stage_idx") ->
        ((r.getAs[String]("stage"), r.getAs[Long]("n_docs"),
          r.getAs[Long]("sum_chars")))).toMap
    val v3 = rows("pipeline_e2e_v3")
    val v2 = rows("pipeline_e2e_v2")
    // this corpus carries no PII, so the quarantine must drop nothing —
    // and then the whole dedup/quality chain must equal v2 stage for stage
    assert(v3(1L)._2 == v3(0L)._2 && v3(1L)._3 == v3(0L)._3,
      "quarantine dropped docs on a PII-free corpus")
    for ((a, b) <- Seq(2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L)) {
      assert(v3(a)._2 == v2(b)._2 && v3(a)._3 == v2(b)._3,
        s"v3 stage $a (${v3(a)._1}) diverged from v2 stage $b (${v2(b)._1})")
    }
    // DSIR keeps exactly the top half of the gate survivors
    assert(v3(6L)._2 == v3(5L)._2 / 2, "dsir_select is not the exact half")
    // the funnel stays monotone through budget → decontam → split
    assert(v3(7L)._2 <= v3(6L)._2 && v3(8L)._2 <= v3(7L)._2
      && v3(9L)._2 <= v3(8L)._2)
    // the four rule×clf agreement cells partition the near-dedup set
    assert((10L to 13L).map(v3(_)._2).sum == v3(4L)._2)
  }

  test("pipeline v4: hard and soft branches audit coherently side by side") {
    val v4 = SparkEntry.queries("pipeline_e2e_v4")(spark, sf).collect()
      .map(r => r.getAs[Long]("stage_idx") ->
        (r.getAs[String]("stage"), r.getAs[Long]("n_docs"))).toMap
    assert(v4.keySet == (0L to 8L).toSet)
    assert(v4(3L)._1 == "hard_near_dedup" && v4(6L)._1 == "soft_quality")
    // shared prefix is monotone
    assert(v4(1L)._2 <= v4(0L)._2 && v4(2L)._2 <= v4(1L)._2)
    // hard branch: collapse ⊆ survivors, gate ⊆ collapse, budget ⊆ gate
    assert(v4(3L)._2 <= v4(2L)._2 && v4(4L)._2 <= v4(3L)._2
      && v4(5L)._2 <= v4(4L)._2)
    // soft branch gates the UNCOLLAPSED survivor set, so it can never
    // pass fewer docs than the hard gate (roots ⊆ survivors)
    assert(v4(6L)._2 >= v4(4L)._2 && v4(6L)._2 <= v4(2L)._2)
    assert(v4(7L)._2 <= v4(6L)._2)
    // the overlap row is an intersection of the two selected sets
    assert(v4(8L)._2 <= math.min(v4(5L)._2, v4(7L)._2))
  }

  test("d4 prune: stage accounting is exact and the SemDeDup half matches dedup_semantic") {
    val d4 = SparkEntry.queries("emb_d4_prune")(spark, sf).collect()
    val sem = SparkEntry.queries("dedup_semantic")(spark, sf)
      .collect().map(r => r.getAs[Long]("cell") ->
        (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_pruned"))).toMap
    assert(d4.nonEmpty)
    d4.foreach { r =>
      val (nv, nsd) = (r.getAs[Long]("n_vecs"), r.getAs[Long]("n_semdup_pruned"))
      val (ns, np, nk) = (r.getAs[Long]("n_surv"),
        r.getAs[Long]("n_proto_pruned"), r.getAs[Long]("n_kept"))
      // the three stages partition every cell exactly
      assert(nsd + ns == nv, s"cell ${r.getAs[Long]("cell")}: stages don't partition")
      assert(np == ns / 10, "prototype cut must be exactly the survivor tenth")
      assert(nk == ns - np)
      // the SemDeDup half IS dedup_semantic — same assignment, same CC
      val (snv, snp) = sem(r.getAs[Long]("cell"))
      assert(snv == nv && snp == nsd, "SemDeDup half diverged from dedup_semantic")
    }
  }

  test("semCells dial: grows with corpus size and bounds the in-cell pair space") {
    // VERDICT r14 item 1 — the SemDeDup blocking dial must scale with
    // the corpus, and the resulting pair space must stay ~n^1.5 (the
    // balanced-cells regime), never the fixed-dial n²/16
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    // the dial is exactly the clamped floor-sqrt of the corpus count
    assert(Similarity.semCells(emb) ==
      math.max(4L, math.sqrt(n.toDouble).toLong).toInt)
    // monotone in corpus size: a quarter-corpus slice derives a
    // smaller dial (sf fixtures share n across 0.001/0.01, so the
    // cross-scale comparison is sliced from the same table)
    val quarter = col("vec_id") < n / 4
    assert(Similarity.semCells(emb, quarter) < Similarity.semCells(emb))
    assert(Similarity.semCells(emb, quarter) ==
      math.max(4L, math.sqrt((n / 4).toDouble).toLong).toInt)
    // pair-space bound: Σ|cell|² ≤ C·n^1.5 for a modest constant —
    // the quantity the in-cell join actually pays. C = 8 tolerates
    // real cluster skew while still failing a collapsed-dial regime
    // (cells=16 at this n would already sit near n²/16 = 2·n^1.5)
    val occ = Similarity.ivfAssign(emb, cells = Similarity.semCells(emb),
        lloydIters = 1)
      .groupBy("cell").agg(count(lit(1)).as("m"))
      .select(sum(col("m") * col("m")).as("p")).head().getLong(0)
    assert(occ <= 8L * math.pow(n.toDouble, 1.5).toLong,
      s"pair space $occ exceeds 8·n^1.5 = ${8L * math.pow(n.toDouble, 1.5).toLong}")
    // and the dial is partition-layout invariant: the assignment is a
    // deterministic expression over frozen fixed-point centroids, so
    // repartitioning the input cannot move a vector between cells
    val a1 = Similarity.ivfAssign(emb, cells = Similarity.semCells(emb))
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val a2 = Similarity.ivfAssign(emb.repartition(7), cells = Similarity.semCells(emb))
      .select("vec_id", "cell").collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a1 == a2, "cell assignment changed under repartition")
  }

  test("perGroupRunningSum equals the single-window form across partition counts") {
    import org.apache.spark.sql.expressions.Window
    // skewed per-group populations on purpose: one giant group (the
    // hot-partition case the decomposition exists for), several small
    val rows = (1L to 4000L).map { i =>
      val g = if (i % 10 < 7) "web" else if (i % 10 < 9) "books" else "code"
      // quality with heavy ties so the tie-break column matters
      (i, g, (i * 2654435761L % 97).toDouble / 97.0, (i % 53 + 1).toInt)
    }
    val df = rows.toDF("doc_id", "source", "quality_score", "n_chars")
    val w = Window.partitionBy("source")
      .orderBy(col("quality_score").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val expected = df
      .withColumn("prior", coalesce(sum("n_chars").over(w), lit(0L)))
      .select("doc_id", "prior")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    for (p <- Seq(1, 7, 32)) {
      val got = graft.ops.Rank.perGroupRunningSum(df.repartition(p),
          "source", "n_chars",
          Seq(col("quality_score").desc, col("doc_id")))
        .select("doc_id", "prior")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"decomposed prior diverged at $p partitions")
    }
    // the decomposition must also survive a numBlocks that exceeds the
    // group count AND one that undershoots it (everything in one block)
    for (nb <- Seq(1, 5, 256)) {
      val got = graft.ops.Rank.perGroupRunningSum(df, "source", "n_chars",
          Seq(col("quality_score").desc, col("doc_id")), numBlocks = nb)
        .select("doc_id", "prior")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
      assert(got == expected, s"decomposed prior diverged at numBlocks=$nb")
    }
  }

  test("vocab-rank decompositions equal the window forms across partition counts") {
    // VERDICT r16 item 1 — the four vocabulary-rank keys (text_zipf,
    // vocab_build, text_chi2_terms, vocab_shard_topk_audit) moved off
    // single-hot-partition windows onto Rank.globalRankByRange /
    // TopK.perGroup. Pin the decomposed forms against the window
    // references ON THE ACTUAL QUERY INPUT (the token-frequency table
    // — heavy freq ties, the adversarial case for a value-blocked
    // rank) across 1/7/32 input partitionings.
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documents(spark, sf)
      .select(col("source"), explode(graft.ops.Dedup.tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("c"))
      .localCheckpoint(false)
    val freq = tf.groupBy("token").agg(sum("c").as("freq"))
      .localCheckpoint(false)
    // (a) global rank over the unfiltered vocabulary — the text_zipf
    // shape — and over the freq>=5 cut — the vocab_build shape
    for (cut <- Seq(freq, freq.filter(col("freq") >= 5))) {
      val expected = cut.withColumn("rnk", row_number().over(
          Window.orderBy(col("freq").desc, col("token").asc)).cast("bigint"))
        .select("token", "rnk")
        .collect().map(r => (r.getString(0), r.getLong(1))).toMap
      for (p <- Seq(1, 7, 32)) {
        val got = graft.ops.Rank.globalRankByRange(cut.repartition(p), "freq", "token")
          .select("token", "rnk")
          .collect().map(r => (r.getString(0), r.getLong(1))).toMap
        assert(got == expected, s"globalRankByRange diverged at $p partitions")
      }
      // contiguous dense ids by construction (the vocab_build contract)
      assert(expected.values.toSeq.sorted == (1L to expected.size).toSeq)
    }
    // (b) per-group top-k — the vocab_shard_topk_audit (per-source
    // top-20) and text_chi2_terms (low-cardinality group) shape
    val expectedTop = tf.withColumn("rk", row_number().over(
        Window.partitionBy("source").orderBy(col("c").desc, col("token"))))
      .filter(col("rk") <= 20)
      .select("source", "token", "rk")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2).toLong)).toSet
    for (p <- Seq(1, 7, 32)) {
      val got = graft.ops.TopK.perGroup(tf.repartition(p), Seq(col("source")),
          Seq(col("c").desc, col("token")), k = 20, rankName = "rk")
        .select("source", "token", "rk")
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet
      assert(got == expectedTop, s"TopK.perGroup diverged at $p partitions")
    }
  }
}
