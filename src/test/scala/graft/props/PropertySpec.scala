package graft.props

import graft.serve.FeedQueries
import graft.util.Fence
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Properties, Test}

/** ScalaCheck properties (SURVEY.md §5 item 3): adapter totality,
  * pagination invariants, minhash similarity preservation. Generator
  * counts are kept small — every case materializes Spark jobs. */
object PropertySpec extends Properties("graft") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(5)

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private object I {
    lazy val i = spark.implicits
  }

  property("adapter totality: any well-formed create yields one activity") = {
    val gen = for {
      id <- Gen.choose(1L, 1000000L)
      shard <- Gen.choose(1L, 997L)
      user <- Gen.choose(1, 9999)
      ts <- Gen.choose(1600000000000L, 1800000000000L)
    } yield (id, shard, user.toString, ts)
    Prop.forAll(gen) { case (id, shard, user, ts) =>
      import I.i._
      val json =
        s"""{"id":$id,"shard_id":$shard,"liked_by":"$user","__op":"c","__table":"likes","__source_ts_ms":$ts,"__source_table":"likes"}"""
      val out = graft.ingest.Adapters.activity(
        graft.ingest.CdcEnvelope.admitted(
          graft.ingest.CdcEnvelope.parse(Seq(json).toDF("value"))))
        .collect()
      out.length == 1 &&
        out.head.getAs[String]("user_id") == user &&
        out.head.getAs[String]("target_id") == shard.toString &&
        out.head.getAs[java.sql.Timestamp]("event_timestamp").getTime == ts &&
        out.head.getAs[Map[String, String]]("metadata")("primary_key_value") == id.toString
    }
  }

  property("pagination: concatenated pages form a prefix of the full order") = {
    import I.i._
    val activity = (1 to 120).map { i =>
      (s"u${i % 3}", new java.sql.Timestamp(1700000000000L + (i % 37) * 60000L), i.toLong)
    }.toDF("user_id", "event_timestamp", "activity_pk")
    val followers = Seq(("me", "u0"), ("me", "u1"), ("me", "u2"))
      .toDF("follower_id", "following_id")
    val full = FeedQueries.feedPage(activity, followers, "me", limit = 120)
      .collect().map(_.getAs[Long]("activity_pk")).toSeq
    Prop.forAll(Gen.choose(1, 25), Gen.choose(0, 3)) { (pageSize, pages) =>
      val collected = (0 to pages).flatMap { p =>
        FeedQueries.feedPage(activity, followers, "me",
          limit = pageSize, offset = p * pageSize)
          .collect().map(_.getAs[Long]("activity_pk")).toSeq
      }
      collected == full.take(collected.length)
    }
  }

  property("as-of join equals per-row brute force on random timelines") = {
    val gen = for {
      rights <- Gen.listOfN(8, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 50L)))
      lefts <- Gen.listOfN(8, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 60L)))
    } yield (rights.distinct, lefts)
    Prop.forAll(gen) { case (rights, lefts) =>
      import I.i._
      val r = rights.zipWithIndex
        .map { case ((k, t), i) => (k.toLong, t, 1000L + i) }
        .toDF("k", "t", "rid")
        // operator contract: right unique per (key, time)
        .groupBy("k", "t").agg(max("rid").as("rid"))
      val l = lefts.zipWithIndex
        .map { case ((k, t), i) => (k.toLong, t, i.toLong) }
        .toDF("k", "t", "lid")
      val got = graft.operators.AsOfJoin
        .asof(l, r, Seq("k"), "t", "t", payload = Seq("rid"))
        .collect()
        .map(x => x.getAs[Long]("lid") ->
          Option(x.get(x.fieldIndex("asof_rid"))).map(_.asInstanceOf[Long]))
        .toMap
      val rr = r.collect().map(x => (x.getAs[Long]("k"), x.getAs[Long]("t"), x.getAs[Long]("rid")))
      lefts.zipWithIndex.forall { case ((k, t), i) =>
        val expect = rr.filter(x => x._1 == k && x._2 <= t)
          .sortBy(x => (x._2, x._3)).lastOption.map(_._3)
        got(i.toLong) == expect
      }
    }
  }

  property("range join equals brute-force containment on random intervals") = {
    val gen = for {
      ivs <- Gen.listOfN(6, Gen.zip(Gen.choose(1, 2), Gen.choose(0L, 40L), Gen.choose(1L, 30L)))
      pts <- Gen.listOfN(8, Gen.zip(Gen.choose(1, 2), Gen.choose(0L, 80L)))
    } yield (ivs, pts)
    Prop.forAll(gen) { case (ivs, pts) =>
      import I.i._
      def mins(m: Long) = new java.sql.Timestamp(m * 60000L)
      val iv = ivs.zipWithIndex
        .map { case ((k, lo, len), i) => (k.toLong, mins(lo), mins(lo + len), 100L + i) }
        .toDF("k", "lo", "hi", "ivid")
      val p = pts.zipWithIndex
        .map { case ((k, t), i) => (k.toLong, mins(t), i.toLong) }
        .toDF("k", "t", "pid")
      val got = graft.operators.RangeJoin
        .pointInInterval(p, iv, Seq("k"), "t", "lo", "hi", Seq("ivid"),
          bucketMs = 10L * 60000L)
        .collect().map(x => (x.getAs[Long]("pid"), x.getAs[Long]("ivid"))).toSet
      val expect = (for {
        ((pk, pt), pi) <- pts.zipWithIndex
        ((ik, lo, len), ii) <- ivs.zipWithIndex
        if pk == ik && pt >= lo && pt < lo + len
      } yield (pi.toLong, 100L + ii)).toSet
      got == expect
    }
  }

  property("minhash: signature agreement tracks set overlap") = {
    Prop.forAll(Gen.choose(0, 40)) { keep =>
      import I.i._
      val base = (1 to 40).map(i => s"tok$i")
      val other = base.take(keep) ++ (1 to (40 - keep)).map(i => s"other$i")
      val df = Seq((1L, base), (2L, other)).toDF("id", "sh")
        .select(col("id"),
          graft.expr.MinHashSignature(
            transform(col("sh"), t => xxhash64(t)), 96).as("sig"))
      val sigs = df.collect().map(r => r.getAs[Long]("id") -> r.getSeq[Long](1)).toMap
      val agree = sigs(1L).zip(sigs(2L)).count { case (a, b) => a == b }
      val jaccard = keep.toDouble / (80 - keep)
      // E[agreement fraction] = jaccard; generous slack for 96 samples
      math.abs(agree / 96.0 - jaccard) < 0.25
    }
  }

  property("sorted-merge intersect count equals set intersection on " +
      "random long sets") = {
    val gen = for {
      a <- Gen.listOf(Gen.choose(-100L, 100L))
      b <- Gen.listOf(Gen.choose(-100L, 100L))
    } yield (a.distinct.sorted, b.distinct.sorted)
    Prop.forAll(gen) { case (a, b) =>
      import I.i._
      val got = Seq((a.toArray, b.toArray)).toDF("x", "y")
        .select(graft.expr.SortedIntersectCount(col("x"), col("y")).as("n"))
        .collect().head.getAs[Int]("n")
      got == a.toSet.intersect(b.toSet).size
    }
  }

  property("token-block lines partition the token stream: space-joined " +
      "blocks reproduce the normalized text") = {
    val word = Gen.oneOf("alpha", "beta", "Gamma", "d-e", "x9", "Zz")
    val gen = Gen.listOf(word).map(_.mkString(" "))
    Prop.forAll(gen) { text =>
      import I.i._
      val row = Seq(Tuple1(text)).toDF("text")
        .select(org.apache.spark.sql.functions.split(
          graft.ext.TextOps.normText(col("text")), " ").as("__toks"))
        .select(
          concat_ws(" ", graft.ext.Dedup.tokenBlockLines(col("__toks"), 10))
            .as("joined"),
          graft.ext.TextOps.normText(lit(text)).as("norm"))
        .collect().head
      row.getAs[String]("joined") == row.getAs[String]("norm")
    }
  }

  property("components equals union-find on random graphs") = {
    val gen = for {
      n <- Gen.choose(2, 30)
      m <- Gen.choose(1, 40)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(0L, n - 1L)
        b <- Gen.choose(0L, n - 1L) if a != b
      } yield (math.min(a, b), math.max(a, b)))
    } yield edges.distinct
    Prop.forAll(gen) { edges =>
      edges.isEmpty || {
        implicit val i = I.i
        import i._
        val got = graft.ext.Dedup.components(edges.toDF("doc_a", "doc_b"))
          .collect()
          .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id"))
          .toMap
        // reference: driver-side union-find with path compression
        val parent = scala.collection.mutable.Map[Long, Long]()
        def find(x: Long): Long = {
          val p = parent.getOrElseUpdate(x, x)
          if (p == x) x else { val r = find(p); parent(x) = r; r }
        }
        edges.foreach { case (a, b) =>
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
        // canonical representative = min node id per root
        val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
        val expect = nodes.groupBy(find).flatMap { case (_, members) =>
          val rep = members.min
          members.map(_ -> rep)
        }
        got == expect
      }
    }
  }

  property("count-min: never undercounts and every row conserves N, on " +
      "random key streams") = {
    val gen = Gen.listOfN(40, Gen.choose(0, 12).map(i => s"k$i"))
    Prop.forAll(gen) { ks =>
      ks.isEmpty || {
        implicit val i = I.i
        import i._
        val chk = graft.ext.CountMin
          .cmCheck(ks.toDF("cm_key"), width = 32, depth = 4)
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2)))
          .toMap
        val exact = ks.groupBy(identity).view.mapValues(_.length.toLong).toMap
        val rows = graft.ext.CountMin
          .sketch(ks.toDF("cm_key"), width = 32, depth = 4)
          .collect().map(r => (r.getInt(0), r.getLong(2)))
        chk.keySet == exact.keySet &&
          chk.forall { case (k, (ex, est)) => ex == exact(k) && est >= ex } &&
          (0 until 4).forall(r =>
            rows.filter(_._1 == r).map(_._2).sum == ks.length.toLong)
      }
    }
  }

  property("pgm: decode(encode(img)) round-trips any gray image") = {
    val gen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 9)
      px <- Gen.listOfN(w * h, Gen.choose(0, 255))
    } yield (w, h, px)
    Prop.forAll(gen) { case (w, h, px) =>
      val gray = px.map(v => (v << 16) | (v << 8) | v).toArray
      graft.ext.Multimodal.PgmCodec
        .decode(graft.ext.Multimodal.PgmCodec.encode(w, h, gray))
        .exists { case (w2, h2, px2) =>
          w2 == w && h2 == h && px2.sameElements(gray)
        }
    }
  }

  property("png: decode(encode(img)) round-trips any rgb image through " +
      "real deflate and all five filters") = {
    val gen = for {
      w <- Gen.choose(1, 9)
      h <- Gen.choose(1, 9) // encode applies filter y % 5 — h up to 9
      px <- Gen.listOfN(w * h, Gen.choose(0, 0xffffff))
    } yield (w, h, px.toArray)
    Prop.forAll(gen) { case (w, h, px) =>
      graft.ext.Multimodal.PngCodec
        .decode(graft.ext.Multimodal.PngCodec.encode(w, h, px))
        .exists { case (w2, h2, px2) =>
          w2 == w && h2 == h && px2.sameElements(px)
        }
    }
  }

  property("gif: decode(encode(idxs)) round-trips any index image " +
      "through real multi-width LZW") = {
    val gen = for {
      w <- Gen.choose(1, 40)
      h <- Gen.choose(1, 40) // up to 1600 px — the dictionary DOES grow
      // past the first width bump, exercising 9-bit codes and KwKwK
      repeatBias <- Gen.choose(0, 3)
      px <- Gen.listOfN(w * h, Gen.choose(0, if (repeatBias == 0) 127 else 7))
    } yield (w, h, px.toArray)
    Prop.forAll(gen) { case (w, h, idxs) =>
      val palette = Array.tabulate(128)(i =>
        (((i * 7) % 256) << 16) | (((i * 5) % 256) << 8) | ((i * 3) % 256))
      graft.ext.Multimodal.GifCodec
        .decode(graft.ext.Multimodal.GifCodec.encode(w, h, idxs))
        .exists { case (w2, h2, px2) =>
          w2 == w && h2 == h && px2.sameElements(idxs.map(palette))
        }
    }
  }

  property("decoders never throw: arbitrary bytes and bit-flipped valid " +
      "files decode to Some or None, never an exception") = {
    // the None contract under hostile input is what keeps a bad row from
    // killing a whole Spark task (the r12 long-arithmetic hardening);
    // fuzz both pure garbage and single-byte mutations of valid files
    val validBmp = graft.ext.Multimodal.BmpCodec.encode(3, 2,
      Array(1, 2, 3, 4, 5, 6))
    val validPgm = graft.ext.Multimodal.PgmCodec.encode(2, 2,
      Array(0x010101, 0x020202, 0x030303, 0x040404))
    val validPng = graft.ext.Multimodal.PngCodec.encode(3, 2,
      Array(0x112233, 0x445566, 0x778899, 0xaabbcc, 0xddeeff, 0x010203))
    val validGif = graft.ext.Multimodal.GifCodec.encode(4, 3,
      Array(1, 2, 3, 1, 2, 3, 5, 5, 5, 5, 9, 9))
    def decodeAll(bytes: Array[Byte]): Unit = {
      val m = graft.ext.Multimodal
      m.BmpCodec.decode(bytes)
      m.BmpCodec.decodeRle8(bytes)
      m.PgmCodec.decode(bytes)
      m.PngCodec.decode(bytes)
      m.GifCodec.decode(bytes)
      m.WavCodec.decodePcm16(bytes)
      m.AviCodec.decodeDib(bytes)
      // the ingestion walks share the contract (r15): poison, never throw
      graft.ext.WebCodec.parseWarc(bytes)
      graft.ext.WebCodec.gunzipMembers(bytes)
      graft.ext.WebCodec.parseHttpResponse(bytes)
      graft.ext.WebCodec.parseHttpRequest(bytes)
      graft.ext.ArchiveCodec.tarParse(bytes)
      graft.ext.ArchiveCodec.zipParse(bytes)
    }
    // each ScalaCheck case seeds a 500-mutation deterministic inner loop
    // (pure JVM — cheap), so one suite run exercises thousands of
    // garbage/mutated inputs, not the suite-wide 5
    val validWarc = graft.ext.WebCodec
      .buildWarcFile(5L, "mutation fuzz text", "en", "src1")
    val validTar = graft.ext.ArchiveCodec.tarBuild(Seq(
      graft.ext.ArchiveCodec.Entry("a.txt", "tar fuzz".getBytes)))
    val validZip = graft.ext.ArchiveCodec.zipBuild(Seq(
      graft.ext.ArchiveCodec.Entry("a.txt", "zip fuzz".getBytes)),
      _ => true)
    Prop.forAll(org.scalacheck.Gen.choose(0L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      (0 until 500).foreach { _ =>
        val base = rnd.nextInt(8) match {
          case 0 =>
            val b = new Array[Byte](rnd.nextInt(120)); rnd.nextBytes(b); b
          case 1 => validBmp.clone
          case 2 => validPgm.clone
          case 3 => validPng.clone
          case 4 => validWarc.clone
          case 5 => validTar.clone
          case 6 => validZip.clone
          case _ => validGif.clone
        }
        // up to 3 byte mutations (header fields, sizes, raster)
        (0 until 1 + rnd.nextInt(3)).foreach { _ =>
          if (base.nonEmpty)
            base(rnd.nextInt(base.length)) = rnd.nextInt(256).toByte
        }
        decodeAll(base)
        decodeAll(base.take(rnd.nextInt(base.length + 1)))
      }
      true // reaching here without a throw IS the property
    }
  }

  property("incremental triangles equal driver brute force on random " +
      "graphs under random micro-batch splits") = {
    val gen = for {
      n <- Gen.choose(3, 14)
      m <- Gen.choose(2, 25)
      edges <- Gen.listOfN(m, for {
        a <- Gen.choose(1L, n.toLong)
        b <- Gen.choose(1L, n.toLong) if a != b
      } yield (math.min(a, b), math.max(a, b)))
      nSplits <- Gen.choose(2, 3)
      marks <- Gen.listOfN(m, Gen.choose(0, nSplits - 1))
    } yield (edges.distinct, marks)
    Prop.forAll(gen) { case (edges, marks) =>
      edges.isEmpty || {
        implicit val i = I.i
        import i._
        val path = java.nio.file.Files
          .createTempDirectory("graft_tri_prop").toString + "/state"
        val batches = edges.zip(marks).groupBy(_._2).toSeq.sortBy(_._1)
          .map(_._2.map(_._1))
        batches.foreach { es =>
          graft.streaming.StreamTriangles.foldBatch(
            es.map { case (a, b) => (a.toString, b.toString, "c") }
              .toDF("follower_id", "following_id", "__op"), path)
        }
        val got = graft.streaming.StreamTriangles
          .readTriangles(spark, path)
          .collect()
          .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
        // driver brute force over the deduped undirected edge set
        val es = edges.toSet
        val nodes = es.toSeq.flatMap(e => Seq(e._1, e._2)).distinct
        val deg = nodes.map(v =>
          v -> es.count(e => e._1 == v || e._2 == v).toLong).toMap
        val tri = scala.collection.mutable.Map[Long, Long]()
          .withDefaultValue(0L)
        val sorted = nodes.sorted
        for {
          ia <- sorted.indices; ib <- (ia + 1) until sorted.length
          ic <- (ib + 1) until sorted.length
          a = sorted(ia); b = sorted(ib); c = sorted(ic)
          if es((a, b)) && es((b, c)) && es((a, c))
        } { tri(a) += 1; tri(b) += 1; tri(c) += 1 }
        got == nodes.map(v => v -> ((deg(v), tri(v)))).toMap
      }
    }
  }

  property("z-order skipping is sound on random data and predicates: " +
      "both layouts' pruned cells hold no matching row") = {
    val gen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      xSpan <- Gen.choose(10L, 200000L)
      ySpan <- Gen.choose(10L, 200000L)
      aFrac <- Gen.choose(0, 100)
      bFrac <- Gen.choose(0, 100)
    } yield (seed, xSpan, ySpan, math.min(aFrac, bFrac), math.max(aFrac, bFrac))
    Prop.forAll(gen) { case (seed, xSpan, ySpan, aFrac, bFrac) =>
      import I.i._
      val rnd = new scala.util.Random(seed)
      val pts = Seq.fill(800)((rnd.nextLong(xSpan), rnd.nextLong(ySpan)))
      // predicate in NORMALIZED key space, like the registered query
      val (yLo, yHi) = (655L * aFrac, 655L * bFrac + 654L)
      val r = Fence.scope(graft.ext.Layout.skippingReport(
        pts.toDF("x", "y"), col("x"), col("y"),
        cellBits = 6, yLo = yLo, yHi = yHi).collect().head)
      r.getAs[Boolean]("z_sound") && r.getAs[Boolean]("lin_sound") &&
        r.getAs[Long]("z_rows_scanned") >= r.getAs[Long]("rows_match") &&
        r.getAs[Long]("lin_rows_scanned") >= r.getAs[Long]("rows_match")
    }
  }

  property("clustered write + pruned read equals a brute-force filter " +
      "on random data and raw ranges (clamping included)") = {
    val gen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      span <- Gen.choose(10L, 100000L)
      // raw ranges may fall partly or wholly outside the data
      x0 <- Gen.choose(-span, 2 * span); xw <- Gen.choose(0L, span)
      y0 <- Gen.choose(-span, 2 * span); yw <- Gen.choose(0L, span)
    } yield (seed, span, x0, x0 + xw, y0, y0 + yw)
    Prop.forAll(gen) { case (seed, span, x0, x1, y0, y1) =>
      import I.i._
      val rnd = new scala.util.Random(seed)
      val pts = Seq.tabulate(600)(i =>
        (rnd.nextLong(span), rnd.nextLong(span), i.toLong))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_prop_zlayout")
      val got = try {
        graft.ext.Layout.writeClustered(
          pts.toDF("x", "y", "pay"), dir.toString, "x", "y", cellBits = 6)
        graft.ext.Layout.readPruned(spark, dir.toString,
          Some((x0, x1)), Some((y0, y1)))
          .select("pay").as[Long].collect().toSet
      } finally { // one 64-partition table per trial — don't leak them
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      }
      val expected = pts.collect {
        case (x, y, pay) if x >= x0 && x <= x1 && y >= y0 && y <= y1 => pay
      }.toSet
      got == expected
    }
  }

  property("HILBERT clustered write + pruned read equals a brute-force " +
      "filter on random data, ranges, cellsPerFile, and reader (geometry " +
      "vs stats skipping)") = {
    val gen = for {
      seed <- Gen.choose(0L, Long.MaxValue)
      span <- Gen.choose(10L, 100000L)
      x0 <- Gen.choose(-span, 2 * span); xw <- Gen.choose(0L, span)
      y0 <- Gen.choose(-span, 2 * span); yw <- Gen.choose(0L, span)
      cpf <- Gen.oneOf(1, 3, 6) // unaligned runs included
      byStats <- Gen.oneOf(true, false)
    } yield (seed, span, x0, x0 + xw, y0, y0 + yw, cpf, byStats)
    Prop.forAll(gen) { case (seed, span, x0, x1, y0, y1, cpf, byStats) =>
      import I.i._
      val rnd = new scala.util.Random(seed)
      val pts = Seq.tabulate(600)(i =>
        (rnd.nextLong(span), rnd.nextLong(span), i.toLong))
      val dir = java.nio.file.Files
        .createTempDirectory("graft_prop_hlayout")
      val got = try {
        graft.ext.Layout.writeClusteredHilbert(
          pts.toDF("x", "y", "pay"), dir.toString, "x", "y",
          cellBits = 6, cellsPerFile = cpf)
        val read =
          if (byStats) graft.ext.Layout.readPrunedByStats(
            spark, dir.toString, Some((x0, x1)), Some((y0, y1)))
          else graft.ext.Layout.readPruned(
            spark, dir.toString, Some((x0, x1)), Some((y0, y1)))
        read.select("pay").as[Long].collect().toSet
      } finally {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(dir).iterator().asScala.toSeq
          .sortBy(-_.getNameCount).foreach(java.nio.file.Files.delete)
      }
      val expected = pts.collect {
        case (x, y, pay) if x >= x0 && x <= x1 && y >= y0 && y <= y1 => pay
      }.toSet
      got == expected
    }
  }

  // The per-pixel lossy bound is ANALYTIC, derived from the codec the
  // encoder actually writes (all-1 DQT, so the only error sources are
  // roundings, each ≤ 0.5):
  //   per-YCbCr-channel reconstruction error ≤
  //     0.5                       (encoder rounds each spatial sample)
  //   + 0.5 · S²                  (64 coefficient roundings through the
  //                                IDCT; S = Σ_u |basis(u)(x)| =
  //                                1/(2√2) + ½·Σ|cos((2x+1)uπ/16)| =
  //                                2.6419 for EVERY x — odd multiples
  //                                permute the |cos| multiset)
  //   + 0.5                       (decoder rounds the IDCT output)
  //   = 4.49
  // and the worst RGB channel is B = Y + 1.772·Cb (+ 0.5 final round):
  //   4.49 · (1 + 1.772) + 0.5 = 12.95  →  bound 13.
  // Sharpness comes from a second leg: for frames with ≥ 64 pixels the
  // MEAN abs error must stay ≤ 1.5 — measured max 0.63 over 200k
  // random frames of this exact generator (r15 probe), so a codec
  // regression that merely doubles typical error still fails.
  // forAllNoShrink: the default integer shrinker escapes the
  // Gen.choose(1,…) domain (r14 falsification reported (0,0,0,0)).
  property("mjpeg avi: mux(encode(frames)) demuxes to every frame within " +
      "the analytic lossy bound, any dims and frame count, odd sizes " +
      "padded") = {
    val gen = for {
      w <- Gen.choose(1, 20)
      h <- Gen.choose(1, 14)
      nf <- Gen.choose(1, 4)
      seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, nf, seed)
    Prop.forAllNoShrink(gen) { case (w, h, nf, seed) =>
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h) { i =>
          val v = (i * 2654435761L + seed + f * 7919) & 0xffffff
          v.toInt
        }
      }
      val jpegs = frames.map(graft.ext.Multimodal.JpegCodec.encode(w, h, _))
      val got = graft.ext.Multimodal.AviCodec.decodeFrames(
        graft.ext.Multimodal.AviCodec.encodeMjpeg(w, h, jpegs))
      got.exists { case (w2, h2, fs) =>
        w2 == w && h2 == h && fs.length == nf &&
          fs.indices.forall { f =>
            var sumErr = 0L
            val pxOk = (0 until w * h).forall { i =>
              (0 to 16 by 8).forall { sft =>
                val e = math.abs(((frames(f)(i) >> sft) & 0xff) -
                  ((fs(f)(i) >> sft) & 0xff))
                sumErr += e
                e <= 13
              }
            }
            pxOk && (w * h < 64 || sumErr.toDouble / (3 * w * h) <= 1.5)
          }
      }
    }
  }

  // MP4 twin of the AVI property: same analytic per-pixel bound (the
  // container layers are lossless; only JpegCodec is lossy — see the
  // derivation above), exercising the ISO-BMFF muxer's stbl ledger and
  // the decoder's general chunk-run resolution with real variable-size
  // samples.
  property("mp4 mjpeg: mux(encode(frames)) box-walks back to every " +
      "frame within the analytic lossy bound") = {
    val gen = for {
      w <- Gen.choose(1, 20)
      h <- Gen.choose(1, 14)
      nf <- Gen.choose(1, 4)
      seed <- Gen.choose(0, 1 << 20)
    } yield (w, h, nf, seed)
    Prop.forAllNoShrink(gen) { case (w, h, nf, seed) =>
      val frames = (0 until nf).map { f =>
        Array.tabulate(w * h) { i =>
          val v = (i * 2654435761L + seed + f * 7919) & 0xffffff
          v.toInt
        }
      }
      val jpegs = frames.map(graft.ext.Multimodal.JpegCodec.encode(w, h, _))
      val got = graft.ext.Mp4Codec.decodeFrames(
        graft.ext.Mp4Codec.encodeMjpeg(w, h, jpegs))
      got.exists { case (w2, h2, fs) =>
        w2 == w && h2 == h && fs.length == nf &&
          fs.indices.forall { f =>
            var sumErr = 0L
            val pxOk = (0 until w * h).forall { i =>
              (0 to 16 by 8).forall { sft =>
                val e = math.abs(((frames(f)(i) >> sft) & 0xff) -
                  ((fs(f)(i) >> sft) & 0xff))
                sumErr += e
                e <= 13
              }
            }
            pxOk && (w * h < 64 || sumErr.toDouble / (3 * w * h) <= 1.5)
          }
      }
    }
  }

  property("pixel embedding: every entry is a mean inside the image's " +
      "luma range, empty cells are 0, and any dim's grid covers all " +
      "pixels (non-square dims fold, never drop)") = {
    val gen = for {
      w <- Gen.choose(1, 12)
      h <- Gen.choose(1, 12)
      dim <- Gen.choose(1, 20)
      px <- Gen.listOfN(w * h, Gen.choose(0, 0xffffff))
    } yield (w, h, dim, px.toArray)
    Prop.forAll(gen) { case (w, h, dim, px) =>
      val v = graft.ext.Multimodal.pixelEmbeddingVec(w, h, px, dim)
      def luma(p: Int): Long =
        299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) + 114L * (p & 0xff)
      val ls = px.map(luma)
      val inRange = v.forall(e =>
        e == 0f || (e >= ls.min.toFloat - 1 && e <= ls.max.toFloat))
      // coverage: the TOTAL pixel mass is conserved across entries'
      // means × counts — recompute counts with the same fold rule
      val gw = math.ceil(math.sqrt(dim.toDouble)).toInt
      val gh = (dim + gw - 1) / gw
      val counts = new Array[Long](dim)
      for (y <- 0 until h; x <- 0 until w) {
        val raw = (y * gh / h) * gw + (x * gw / w)
        counts(math.min(raw, dim - 1)) += 1
      }
      v.length == dim && inRange && counts.sum == w.toLong * h
    }
  }

  property("gzip: member walk round-trips any payload sequence through " +
      "mixed STORED and Deflater members") = {
    val gen = for {
      n <- Gen.choose(1, 4)
      payloads <- Gen.listOfN(n,
        Gen.choose(0, 3000).flatMap(len =>
          Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte))))
      methods <- Gen.listOfN(n, Gen.oneOf(true, false))
    } yield (payloads.map(_.toArray), methods)
    Prop.forAll(gen) { case (payloads, methods) =>
      val stream = payloads.zip(methods).zipWithIndex.map {
        case ((p, true), i) => graft.ext.WebCodec.gzipDeflate(p, s"m$i")
        case ((p, false), _) => graft.ext.WebCodec.gzipStored(p)
      }.foldLeft(Array.emptyByteArray)(_ ++ _)
      graft.ext.WebCodec.gunzipMembers(stream).exists { got =>
        got.length == payloads.length &&
          got.zip(payloads).forall { case (a, b) => a.sameElements(b) }
      }
    }
  }

  property("warc: buildWarcFile parses back to exactly the modeled " +
      "record sequence on EVERY fetch-outcome axis (dead/retry/chain/" +
      "loop/redirect/truncated/MIME), all 3 compression variants, and " +
      "each response round-trips its charset/coding/framing axes") = {
    val ascii = Gen.choose(32, 126).map(_.toChar)
    val gen = for {
      id <- Gen.choose(0L, 1000000L) // every axis combination reachable
      text <- Gen.listOf(ascii).map(_.mkString)
      lang <- Gen.listOfN(2, Gen.alphaLowerChar).map(_.mkString)
      source <- Gen.choose(0, 99).map(n => s"src$n")
    } yield (id, text, lang, source)
    // each sample sweeps 18 consecutive ids — every id%9 fetch-outcome
    // class × the id%2 parity axes is exercised on EVERY run (the r18
    // regression class: a single random draw can miss an axis entirely)
    def check(id: Long, text: String, lang: String,
        source: String): Boolean = {
      val W = graft.ext.WebCodec
      val uri = W.buildUrl(id, lang, source)
      val base =
        if (W.hasMetadata(id)) Vector("request", "response", "metadata")
        else Vector("request", "response")
      // the r18 fetch-outcome extras: one request/response pair on the
      // redirect and retry axes, two pairs on the chain and loop axes
      val extraPairs =
        if (W.redirectAxis(id) || W.retryAxis(id)) 1
        else if (W.chainAxis(id) || W.loopAxis(id)) 2
        else 0
      val wantTypes = base ++
        Vector.fill(extraPairs)(Vector("request", "response")).flatten
      val wantExtraUris: Vector[String] =
        if (W.redirectAxis(id)) {
          val a = W.redirectAliasUrl(id, lang, source); Vector(a, a)
        } else if (W.retryAxis(id)) Vector(uri, uri)
        else if (W.chainAxis(id)) {
          val h2 = W.chainHop2Url(id, source)
          val h1 = W.chainHop1UrlAscii(id) // punycode capture spelling
          Vector(h2, h2, h1, h1)
        } else if (W.loopAxis(id)) {
          val la = W.loopAUrl(id, source)
          val lb = W.loopBUrl(id, source)
          Vector(la, la, lb, lb)
        } else Vector.empty
      W.parseWarc(W.buildWarcFile(id, text, lang, source)).exists { recs =>
        val shapeOk = recs.map(_.warcType) == wantTypes &&
          recs.take(base.length).forall(_.targetUri == uri) &&
          recs.drop(base.length).map(_.targetUri) == wantExtraUris &&
          recs.forall(_.date == W.warcDateOf(id)) &&
          recs(1).truncated == (if (W.truncAxis(id)) "length" else "") &&
          recs(0).payload.sameElements(
            W.buildRequest(id, lang, source).getBytes("ISO-8859-1")) &&
          (!W.hasMetadata(id) || recs(base.length - 1).payload
            .sameElements(W.metadataFields(id).getBytes("ISO-8859-1")))
        // the capture response: 404/410 on the DEAD axis (no 200 at
        // all), otherwise the full wire-axis 200; a TRUNCATED capture
        // must poison the strict parse and decode only under the
        // WARC-Truncated contract
        val respOk =
          if (W.deadAxis(id))
            recs(1).payload.sameElements(W.buildErrorResponse(id)) &&
              W.parseHttpResponse(recs(1).payload).exists { m =>
                m.status == W.errorStatus(id) &&
                  m.charsetSrc == "sniff" &&
                  m.bodyText == W.errorBody(id)
              }
          else recs(1).payload.sameElements(
              W.buildResponse(id, text, lang, source)) &&
            (!W.truncAxis(id) ||
              W.parseHttpResponse(recs(1).payload).isEmpty) &&
            W.parseHttpResponse(recs(1).payload,
                tolerateTruncated = W.truncAxis(id)).exists { m =>
              // charset resolution follows the WHATWG order
              // bom→header→meta→sniff — and a text/plain entity has
              // NO meta to honor, so header-omitting plain docs sniff
              val plain = W.mimeAxis(id)
              val (wantCs, wantSrc) =
                if (W.bomAxis(id)) ("utf-8", "bom")
                else if (plain && W.headerOmitsCharset(id)) ("", "sniff")
                else if (W.metaOmitsCharset(id)) ("", "sniff")
                else if (W.headerOmitsCharset(id)) (W.charsetOf(id), "meta")
                else (W.charsetOf(id), "header")
              val wantBody =
                if (plain) text
                else if (W.truncAxis(id))
                  W.truncatedHtml(W.buildHtml(id, text, lang, source))
                else W.buildHtml(id, text, lang, source)
              m.status == 200 &&
                m.mime == (if (plain) "text/plain" else "text/html") &&
                m.charset == wantCs && m.charsetSrc == wantSrc &&
                m.contentEncoding == W.contentCoding(id) &&
                m.chunked == (id % 4 == 1) &&
                m.trailers ==
                  (if (id % 4 == 1 && W.trailerAxis(id)) 1 else 0) &&
                m.bodyText == wantBody
            }
        // the fetch-outcome extras parse to their axis statuses
        val extras = recs.drop(base.length)
        val extraOk =
          if (W.redirectAxis(id))
            W.parseHttpResponse(extras(1).payload).exists(m =>
              m.status == 301 &&
                m.location == W.redirectLocation(id, lang, source) &&
                m.bodyText == W.redirectBody(id))
          else if (W.retryAxis(id))
            extras(0).payload.sameElements(
              W.buildRequest(id, lang, source).getBytes("ISO-8859-1")) &&
              W.parseHttpResponse(extras(1).payload).exists(m =>
                m.status == 503 &&
                  m.retryAfter == W.retryAfterOf(id) &&
                  m.bodyText == W.retryBody(id))
          else if (W.chainAxis(id))
            // hop 2 Location spells the hop-1 host in UNICODE; only
            // the IDN fold joins it to the punycode capture above
            W.parseHttpResponse(extras(1).payload).exists(m =>
              m.status == 302 &&
                m.location == W.chainHop1LocationUnicode(id)) &&
              W.parseHttpResponse(extras(3).payload).exists(m =>
                m.status == 301 &&
                  m.location == W.chainFinalLocation(id, lang, source))
          else if (W.loopAxis(id))
            W.parseHttpResponse(extras(1).payload).exists(m =>
              m.status == 301 && m.location == s"/lb/$id") &&
              W.parseHttpResponse(extras(3).payload).exists(m =>
                m.status == 301 && m.location == s"/la/$id")
          else true
        shapeOk && respOk && extraOk
      }
    }
    Prop.forAll(gen) { case (id, text, lang, source) =>
      (0L until 18L).forall(k => check(id + k, text, lang, source))
    }
  }

  property("tar + zip: entry walks round-trip arbitrary entry lists " +
      "(empty data included, any zip method mix) preserving order") = {
    val nameGen = for {
      n <- Gen.choose(1, 30)
      cs <- Gen.listOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('/', '.',
        '_', '-')))
    } yield cs.mkString
    val entryGen = for {
      name <- nameGen
      len <- Gen.choose(0, 1200)
      data <- Gen.listOfN(len, Gen.choose(-128, 127).map(_.toByte))
    } yield graft.ext.ArchiveCodec.Entry(name, data.toArray)
    val gen = for {
      es <- Gen.choose(0, 5).flatMap(n => Gen.listOfN(n, entryGen))
      seed <- Gen.choose(0, 1 << 20)
    } yield (es, seed)
    Prop.forAll(gen) { case (es, seed) =>
      val A = graft.ext.ArchiveCodec
      val sameTar = A.tarParse(A.tarBuild(es)).exists { got =>
        got.map(_.name) == es.map(_.name).toVector &&
          got.zip(es).forall { case (a, b) => a.data.sameElements(b.data) }
      }
      val sameZip = A.zipParse(A.zipBuild(es, i => ((seed >> i) & 1) == 1))
        .exists { got =>
          got.map(_.name) == es.map(_.name).toVector &&
            got.zip(es).forall { case (a, b) => a.data.sameElements(b.data) }
        }
      sameTar && sameZip
    }
  }
}
