package graft

import org.scalacheck.{Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Scalars}

/** Property-based checks (SURVEY §5.3): dedup idempotence, parse/format
  * round-trips, NULL-on-junk, age non-negativity — over generated inputs
  * rather than fixtures. Case counts are kept small: each case runs a
  * Spark job. */
object GraftProperties extends Properties("graft") {

  import TestSpark.spark
  import spark.implicits._

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(15)

  private val rowsGen: Gen[List[(Int, Int, String)]] =
    Gen.listOfN(30, for {
      k <- Gen.choose(1, 5)
      o <- Gen.choose(1, 10)
      v <- Gen.alphaStr.map(_.take(5))
    } yield (k, o, v)).suchThat(_.nonEmpty)

  property("keepFirst is idempotent") = forAll(rowsGen) { rows =>
    val df = rows.toDF("k", "o", "v")
    val once = Dedup.keepFirst(df, Seq("k"), Seq(col("o").asc, col("v").asc))
    val twice = Dedup.keepFirst(once, Seq("k"), Seq(col("o").asc, col("v").asc))
    once.orderBy("k", "o", "v").collect().toSeq ==
      twice.orderBy("k", "o", "v").collect().toSeq
  }

  property("keepFirst keeps exactly one row per key") = forAll(rowsGen) { rows =>
    val df = rows.toDF("k", "o", "v")
    val out = Dedup.keepFirst(df, Seq("k"), Seq(col("o").asc, col("v").asc))
    out.count() == rows.map(_._1).distinct.size
  }

  private val hmsGen: Gen[(Int, Int, Int)] = for {
    h <- Gen.choose(0, 23); m <- Gen.choose(0, 59); s <- Gen.choose(0, 59)
  } yield (h, m, s)

  property("parseTimeHms round-trips valid times") = forAll(hmsGen) {
    case (h, m, s) =>
      val in = f"$h%02d:$m%02d:$s%02d"
      val out = Seq(in).toDF("v")
        .select(Scalars.parseTimeHms(col("v"))).as[String].collect().head
      out == in
  }

  property("resolveRaceTime of '+s.SSS' gaps lands at the gap offset") =
    forAll(Gen.choose(0, 59), Gen.choose(0, 999)) { (sec, ms) =>
      val in = f"+$sec%d.$ms%03d"
      val out = Seq(in).toDF("v")
        .select(Scalars.resolveRaceTime(col("v"))).as[String].collect().head
      out == f"00:00:$sec%02d.$ms%03d"
    }

  property("intOrZero is total: junk → 0, ints round-trip") =
    forAll(Gen.oneOf(Gen.alphaStr, Gen.choose(-1000, 1000).map(_.toString))) { v =>
      val out = Seq(v).toDF("v")
        .select(Scalars.intOrZero(col("v"))).as[Int].collect().head
      if (v.nonEmpty && v.matches("-?[0-9]+")) out == v.toInt else out == 0
    }

  property("age is non-negative for past dates") =
    forAll(Gen.choose(1900, 2026), Gen.choose(1, 12), Gen.choose(1, 28)) {
      (y, m, d) =>
        val out = Seq(f"$y%04d-$m%02d-$d%02d").toDF("v")
          .select(Scalars.age(to_date(col("v")), 2026)).as[Int].collect().head
        out >= 0 && out == 2026 - y
    }

  // q03's correctness rests on this: the struct-min aggregate picks the
  // same survivor as the window form whenever the order columns totally
  // order each group (the generator de-dups (k, o) pairs to guarantee it).
  private val totalOrderRows: Gen[List[(Int, Int, String)]] =
    rowsGen.map(_.groupBy(r => (r._1, r._2)).values.map(_.head).toList)
      .suchThat(_.nonEmpty)

  property("keepFirstAgg equals windowed keepFirst under a total order") =
    forAll(totalOrderRows) { rows =>
      val df = rows.toDF("k", "o", "v")
      val win = Dedup.keepFirst(df, Seq("k"), Seq(col("o").asc, col("v").asc))
        .select("k", "o", "v").orderBy("k").collect().toSeq
      val agg = Dedup.keepFirstAgg(df, Seq("k"), Seq("o"), Seq("v"))
        .select("k", "o", "v").orderBy("k").collect().toSeq
      win == agg
    }

  // The documented DIVERGENCE MODE (Dedup.scala scaladoc): when `order`
  // does NOT totally order a group, keepFirstAgg's survivor is the row
  // with the smallest (order ++ payload) tuple — deterministic, equal to
  // the window form ordered by (order, payload). Generator here allows
  // duplicate (k, o) pairs on purpose.
  property("keepFirstAgg tie-on-order survivor is the min-payload row") =
    forAll(rowsGen.suchThat(_.nonEmpty)) { rows =>
      val df = rows.toDF("k", "o", "v")
      val win = Dedup.keepFirst(df, Seq("k"), Seq(col("o").asc, col("v").asc))
        .select("k", "o", "v").orderBy("k").collect().toSeq
      val agg = Dedup.keepFirstAgg(df, Seq("k"), Seq("o"), Seq("v"))
        .select("k", "o", "v").orderBy("k").collect().toSeq
      win == agg
    }

  // PrefixSum must equal the single-partition window cumsum regardless of
  // how the boundaries split the keys (the 2-core test session derives 16
  // ranges, and a sample smaller than 20 × ranges is spread over all of
  // them, so ≤40 keys take the multi-range path; sparse unique keys — the
  // op orders by key value, not by key density).
  private val cumsumGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(40, for {
      k <- Gen.choose(-100000L, 100000L)
      v <- Gen.choose(0L, 1000L)
    } yield (k, v)).map(_.groupBy(_._1).values.map(_.head).toList)
      .suchThat(_.nonEmpty)

  property("PrefixSum.cumsum equals the global window cumsum") =
    forAll(cumsumGen) { rows =>
      val df = rows.toDF("k", "v")
      val got = graft.ops.PrefixSum.cumsum(df, "k", "v", "c")
        .select("k", "c").orderBy("k").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      var acc = 0L
      val want = rows.sortBy(_._1).map { case (k, v) => acc += v; (k, acc) }
      got == want
    }

  // The scan's boundaries and range ids depend only on the data: the
  // same frame collected again after its cached input is dropped, and
  // the same scan over the input in any partition layout, give the
  // sequential cumsum.
  property("PrefixSum.cumsum survives a recompute and any input layout") =
    forAll(cumsumGen) { rows =>
      val df = rows.toDF("k", "v")
      def sums(in: org.apache.spark.sql.DataFrame) =
        graft.ops.PrefixSum.cumsum(in, "k", "v", "c").select("k", "c")
          .orderBy("k")
      def read(out: org.apache.spark.sql.DataFrame) =
        out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val frame = sums(df)
      val first = read(frame)
      spark.catalog.clearCache()
      val again = read(frame)
      val layouts = Seq(1, 3, 7).map(k => read(sums(df.repartition(k))))
      var acc = 0L
      val want = rows.sortBy(_._1).map { case (k, v) => acc += v; (k, acc) }
      first == want && (again +: layouts).forall(_ == first)
    }

  property("PrefixSum.cumsum of decimal(18,2) is the exact running sum") =
    forAll(Gen.listOfN(40, for {
      k <- Gen.choose(-100000L, 100000L)
      cents <- Gen.choose(-10000000000L, 10000000000L)
    } yield (k, cents)).map(_.distinctBy(_._1)).suchThat(_.nonEmpty)) { rows =>
      val df = rows.map { case (k, c) => (k, BigDecimal(c, 2)) }.toDF("k", "v")
        .withColumn("v", col("v").cast("decimal(18,2)"))
      val got = graft.ops.PrefixSum.cumsum(df, "k", "v", "c")
        .select("k", "c").orderBy("k").collect()
        .map(r => (r.getLong(0), BigDecimal(r.getDecimal(1)))).toSeq
      val want = rows.sortBy(_._1).scanLeft((0L, BigDecimal(0))) {
        case ((_, acc), (k, c)) => (k, acc + BigDecimal(c, 2)) }.tail
      got == want
    }

  // The binned range join must return exactly the pairs a naive
  // containment filter returns — for any bin width (the knob changes the
  // plan, never the result), including intervals spanning many bins,
  // empty intervals (lo == hi), and negative values.
  private val rangeJoinGen: Gen[(List[Long], List[(Long, Long)], Double)] =
    for {
      pts <- Gen.listOfN(25, Gen.choose(-50L, 50L))
      ivs <- Gen.listOfN(8, for {
        lo <- Gen.choose(-60L, 60L)
        w <- Gen.choose(0L, 40L)
      } yield (lo, lo + w))
      bw <- Gen.oneOf(1.0, 3.0, 7.5, 100.0)
    } yield (pts, ivs, bw)

  property("RangeJoin.pointInInterval equals the naive containment join") =
    forAll(rangeJoinGen) { case (pts, ivs, bw) =>
      val p = pts.zipWithIndex.map { case (v, i) => (i.toLong, v) }.toDF("pid", "p")
      val iv = ivs.zipWithIndex.map { case ((lo, hi), i) => (i.toLong, lo, hi) }
        .toDF("iid", "lo", "hi")
      val got = graft.ops.RangeJoin.pointInInterval(p, "p", iv, "lo", "hi", bw)
        .select("pid", "iid").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = (for {
        (v, i) <- pts.zipWithIndex
        ((lo, hi), j) <- ivs.zipWithIndex
        if v >= lo && v < hi
      } yield (i.toLong, j.toLong)).toSet
      got == want
    }

  // Both connected-components algorithms must label every node with its
  // component minimum — checked against a sequential union-find on random
  // graphs (chains, cliques, isolated pairs, self-loops all arise).
  private val edgesGen: Gen[List[(Long, Long)]] =
    Gen.listOfN(16, for {
      a <- Gen.choose(0L, 11L)
      b <- Gen.choose(0L, 11L)
    } yield (a, b)).suchThat(_.exists { case (a, b) => a != b })

  private def unionFind(edges: List[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(n => n -> find(n)).toMap
  }

  property("ConnectedComponents.minLabelPropagation matches union-find") =
    forAll(edgesGen) { edges =>
      val df = edges.toDF("src", "dst")
      val got = graft.ops.ConnectedComponents.minLabelPropagation(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      val want = unionFind(edges.filter { case (a, b) => a != b })
      got == want
    }

  property("ConnectedComponents.alternatingStar matches union-find") =
    forAll(edgesGen) { edges =>
      val df = edges.toDF("src", "dst")
      val got = graft.ops.ConnectedComponents.alternatingStar(df)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      // alternatingStar labels all nodes incl. self-loop-only ones; the
      // union-find reference only tracks nodes on a real edge, so compare
      // on the union-find's domain and require self-labels elsewhere
      val want = unionFind(edges.filter { case (a, b) => a != b })
      want.forall { case (n, c) => got.get(n).contains(c) } &&
        got.forall { case (n, c) => want.contains(n) || c == n }
    }

  property("ConnectedComponents.driverComponents matches union-find") =
    forAll(edgesGen) { edges =>
      val df = edges.toDF("src", "dst")
      val nodes = df.select(col("src")).union(df.select(col("dst")))
        .distinct().toDF("node")
      val got = graft.ops.ConnectedComponents.driverComponents(nodes, df)
        .get.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      // driverComponents labels every node in `nodes` (self-loop-only
      // ones label themselves), like alternatingStar
      val want = unionFind(edges.filter { case (a, b) => a != b })
      want.forall { case (n, c) => got.get(n).contains(c) } &&
        got.forall { case (n, c) => want.contains(n) || c == n }
    }

  property("ConnectedComponents.driverComponents refuses above its bound") =
    forAll(Gen.choose(2, 12)) { n =>
      val edges = (1L until n.toLong).map(i => (i - 1, i)).toDF("src", "dst")
      val nodes = (0L until n.toLong).map(Tuple1(_)).toDF("node")
      graft.ops.ConnectedComponents
        .driverComponents(nodes, edges, maxNodes = 1, maxEdges = 1).isEmpty
    }

  property("driverComponents boundary: exactly-at-bound serves, " +
    "one-over falls back, uncollectable bounds refuse") =
    forAll(Gen.choose(3, 12)) { n => // n≥3 keeps maxEdges = n−2 positive
      val edges = (1L until n.toLong).map(i => (i - 1, i)).toDF("src", "dst")
      val nodes = (0L until n.toLong).map(Tuple1(_)).toDF("node")
      val cc = graft.ops.ConnectedComponents
      // at the bound: served (n nodes / n-1 edges fit exactly)
      val atBound = cc.driverComponents(nodes, edges,
        maxNodes = n.toLong, maxEdges = n.toLong - 1)
      // one over either bound: refused (caller falls back to the
      // distributed loop — the q89/q334 guard path)
      val overNodes = cc.driverComponents(nodes, edges,
        maxNodes = n.toLong - 1, maxEdges = n.toLong - 1)
      val overEdges = cc.driverComponents(nodes, edges,
        maxNodes = n.toLong, maxEdges = n.toLong - 2)
      // bounds at/above Int.MaxValue used to overflow toInt and
      // silently SHRINK the limit (ADVICE r13) — now they refuse loudly
      val huge = try {
        cc.driverComponents(nodes, edges, maxNodes = Int.MaxValue.toLong)
        false
      } catch { case _: IllegalArgumentException => true }
      atBound.exists(_.count() == n.toLong) &&
        overNodes.isEmpty && overEdges.isEmpty && huge
    }

  property("fitThumb: never upscales, long side lands exactly on 256") =
    forAll(Gen.choose(1, 4000), Gen.choose(1, 4000)) { (w, h) =>
      val (tw, th) = graft.functions.Multimodal.fitThumb(w, h)
      val noUpscale = tw <= w && th <= h
      val small = w <= 256 && h <= 256
      val fits = if (small) (tw, th) == (w, h) else math.max(tw, th) == 256
      noUpscale && fits
    }

  // Decoders run inside mapPartitions over opaque corpus bytes — an
  // exception there kills the task, not the row, so totality (None, not
  // throw) on ARBITRARY bytes is the P8 contract the queries rely on.
  private val bytesGen: Gen[Array[Byte]] =
    Gen.chooseNum(0, 120).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue)).map(_.toArray))

  property("decodeBmpDims is total: any bytes → Some or None, never throws") =
    forAll(bytesGen) { b =>
      graft.functions.Multimodal.decodeBmpDims(b)
      true
    }

  property("decodeWav is total, even with valid RIFF/WAVE magic prefixes") =
    forAll(bytesGen) { b =>
      graft.functions.Multimodal.decodeWav(b)
      // adversarial variant: correct magic, random chunk soup
      val withMagic = ("RIFF".getBytes("US-ASCII") ++ b.take(4) ++
        "WAVE".getBytes("US-ASCII") ++ b.drop(8))
      graft.functions.Multimodal.decodeWav(withMagic)
      true
    }

  property("BMP/WAV encode→decode round-trips for any sane parameters") =
    forAll(Gen.choose(1, 8192), Gen.choose(1, 8192), Gen.choose(8000, 192000),
      Gen.choose(1, 8), Gen.choose(0, 1 << 20)) { (w, h, rate, ch, n) =>
      val bmp = graft.functions.Multimodal.decodeBmpDims(
        graft.functions.Multimodal.bmpBytes(w, h)) == Some((w, h))
      val wav = graft.functions.Multimodal.decodeWav(
        graft.functions.Multimodal.wavBytes(rate, ch, n)) ==
        Some((rate, ch, 16, n.toLong))
      bmp && wav
    }

  property("PrefixSum.cumsum tuple order matches a sequential scan") =
    forAll(Gen.listOfN(25, for {
      h <- Gen.choose(0L, 3L) // few distinct hashes → ties force the
      id <- Gen.choose(0L, 1000000L) // id tiebreak to carry the order
      v <- Gen.choose(1L, 9L)
    } yield (h, id, v)).map(_.distinctBy(t => (t._1, t._2)))
      .suchThat(_.nonEmpty)) { rows =>
      val df = rows.toDF("h", "id", "v")
      val got = graft.ops.PrefixSum.cumsum(df, Seq("h", "id"), "v", "cs")
        .select("h", "id", "cs")
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      spark.catalog.clearCache()
      val want = rows.sortBy(t => (t._1, t._2))
        .scanLeft((0L, 0L) -> 0L) { case ((_, acc), (h, id, v)) =>
          (h, id) -> (acc + v) }.tail.toMap
      got == want
    }

  // q169's Morton key: interleaving is a bijection on the 8-bit × 8-bit
  // grid — deinterleaving the SQL-computed z recovers (x, y) exactly,
  // so z-sorted layouts can never collide two distinct cells.
  property("Morton interleave round-trips (x, y) through z") =
    forAll(Gen.listOfN(20, for {
      x <- Gen.choose(0L, 255L); y <- Gen.choose(0L, 255L)
    } yield (x, y)).suchThat(_.nonEmpty)) { pts =>
      val z = (0 until 8).map { i =>
        shiftleft(shiftright(col("x"), i).bitwiseAND(lit(1L)), 2 * i) +
          shiftleft(shiftright(col("y"), i).bitwiseAND(lit(1L)), 2 * i + 1)
      }.reduce(_ + _)
      val got = pts.toDF("x", "y").select(col("x"), col("y"), z.as("z"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      got.forall { case (x, y, zv) =>
        val xBack = (0 until 8).map(i => ((zv >> (2 * i)) & 1L) << i).sum
        val yBack = (0 until 8).map(i => ((zv >> (2 * i + 1)) & 1L) << i).sum
        xBack == x && yBack == y && zv >= 0 && zv < 65536
      }
    }

  // q312's distributed ntile: the closed-form bucket arithmetic over a
  // PrefixSum rank must equal Spark's own ntile window for ANY n and k
  // — first n%k buckets hold n/k+1 rows, the rest n/k.
  property("ntile bucket formula equals the ntile window") =
    forAll(Gen.choose(1, 40), Gen.choose(1, 7)) { (n, k) =>
      val kk = math.min(k, n) // ntile caps buckets at n rows
      import org.apache.spark.sql.expressions.Window
      val df = (1 to n).map(i => (i.toLong, i * 31 % 17)).toDF("id", "v")
      val w = Window.orderBy(col("v"), col("id"))
      val rk = df.withColumn("rank",
          row_number().over(w).cast("long"))
        .withColumn("nt", ntile(kk).over(w).cast("long"))
      def idiv(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
        ((a - pmod(a, b)) / b).cast("long")
      val base = lit(n.toLong / kk); val m = lit(n.toLong % kk)
      val cut = m * (base + 1)
      val formula = when(col("rank") <= cut,
          idiv(col("rank") - 1, base + 1) + 1)
        .otherwise(m + idiv(col("rank") - cut - 1, base) + 1)
      rk.select(col("nt"), formula.cast("long").as("f"))
        .collect().forall(r => r.getLong(0) == r.getLong(1))
    }

  // Quantiles (the exact-percentile replacement, VERDICT r9 #1) must be
  // bit-identical to Spark's own `percentile` aggregate on arbitrary
  // grouped data — duplicates, negatives, skewed group sizes, and any
  // percentage (including 0 and 1) drawn per case.
  private val qRowsGen: Gen[(List[(Int, Double)], Double)] = for {
    rows <- Gen.listOfN(40, for {
      g <- Gen.choose(1, 4)
      v <- Gen.oneOf(Gen.choose(-100, 100).map(_.toDouble / 4),
        Gen.oneOf(1.0, 2.0, 2.0, 3.0)) // force ties often
    } yield (g, v)).suchThat(_.nonEmpty)
    p <- Gen.oneOf(Gen.choose(0, 100).map(_ / 100.0),
      Gen.oneOf(0.0, 1.0, 0.5))
  } yield (rows, p)

  property("Quantiles.quantileCont == percentile, any data, any p") =
    forAll(qRowsGen) { case (rows, p) =>
      val df = rows.toDF("g", "v")
      val got = graft.ops.Quantiles
        .quantileCont(df, Seq("g"), "v", Seq("q" -> p))
        .orderBy("g").collect().map(r => (r.getInt(0), r.getDouble(1)))
      val want = df.groupBy("g").agg(expr(s"percentile(v, ${p}d)").as("q"))
        .orderBy("g").collect().map(r => (r.getInt(0), r.getDouble(1)))
      got.toSeq == want.toSeq
    }

  // The global form on input with no non-NULL value: no candidate row,
  // so every percentile is NULL, as Spark's `percentile` returns, and the
  // requested non-NULL count is 0, as `count(v)` returns.
  property("Quantiles.quantileCont global, empty or all-NULL == percentile") =
    forAll(Gen.choose(0, 5), Gen.oneOf(0.0, 0.37, 0.5, 1.0)) { (n, p) =>
      val df = Seq.fill(n)(Option.empty[Double]).toDF("v")
      val got = graft.ops.Quantiles
        .quantileCont(df, Nil, "v", Seq("q" -> p), countCol = Some("n"))
        .collect()
      val want = df.agg(expr(s"percentile(v, ${p}d)").as("q"),
        count(col("v")).as("n")).collect()
      got.toSeq == want.toSeq
    }

  // q326's WebP container: encode → decode round-trips every field for
  // arbitrary geometry, including odd-payload RIFF padding.
  property("WebP meta round-trips through the container bytes") =
    forAll(Gen.choose(1, 5000), Gen.choose(1, 5000), Gen.oneOf(true, false),
      Gen.choose(0, 40), Gen.choose(1, 60)) { (w, h, a, exif, vp8) =>
      val b = graft.functions.Multimodal.webpBytes(w, h, a, exif, vp8)
      graft.functions.Multimodal.decodeWebpMeta(b)
        .contains((w, h, a, exif > 0,
          if (exif > 0) 3 else 2, b.length))
    }

  // the log-line value escaping under every marker (partition values,
  // string zone-map bounds, constraint SQL, schema json) must
  // round-trip ARBITRARY strings — tabs, equals, percents, newlines,
  // unicode — or the line grammar silently corrupts table metadata
  property("log-line value escaping round-trips arbitrary strings") =
    forAll { (s: String) =>
      val esc = graft.core.TxLog.escapeVal(s)
      !esc.exists(c => c == '\t' || c == '\n' || c == '\r' || c == '=') &&
        graft.core.TxLog.unescapeVal(esc) == s
    }

  // the in-memory round-trip alone missed the r10 CR bug: linesIterator
  // (what TxLog.fileLines uses) splits on \r too, so the contract must
  // hold through a WRITTEN-then-read log line — the escaped marker
  // survives the file grammar and parseAdd recovers the exact bounds
  property("escaped zone-map markers survive write-then-fileLines-read") =
    forAll { (lo: String, hi: String) =>
      import graft.core.TxLog
      val line = s"add\tf.parquet\ts:c=${TxLog.escapeVal(lo)}=" +
        TxLog.escapeVal(hi)
      val p = java.nio.file.Files.createTempFile("escprop_", ".txt")
      try {
        java.nio.file.Files.write(p, (line + "\n").getBytes("UTF-8"))
        val read = new String(
          java.nio.file.Files.readAllBytes(p), "UTF-8")
          .linesIterator.filter(_.nonEmpty).toSeq
        read == Seq(line) && {
          val (f, _, _, ss) = TxLog.parseAdd(read.head)
          f == "f.parquet" && ss.get("c").contains((lo, hi))
        }
      } finally { java.nio.file.Files.deleteIfExists(p): Unit }
    }

  // the CHANGE DATA FEED's core contract: for ANY mutation sequence
  // (append / merge-on-read DV delete / copy-on-write delete /
  // OPTIMIZE / RESTORE), folding the feed per version — deletes before
  // inserts — from an empty state reproduces the live table exactly.
  // OPTIMIZE versions carry nodc and must net as no-ops; RESTORE's
  // verbatim re-adds carry their same-commit vectors.
  property("change feed net-effect fold reproduces the live table " +
      "under random mutation sequences") =
    forAll(Gen.listOfN(3, Gen.choose(0, 4)), Gen.choose(0, 6)) { (muts, k) =>
      import graft.core.TxLog
      val t = java.nio.file.Files.createTempDirectory("txprop_").toString
      TxLog.drop(t)
      var next = 20L
      TxLog.create(spark.range(0L, 20L).select(col("id")).coalesce(1), t)
      muts.foreach {
        case 0 =>
          TxLog.append(
            spark.range(next, next + 10L).select(col("id")).coalesce(1), t)
          next += 10
        case 1 => TxLog.deleteWhereDV(spark, t, col("id") % 7 === k % 7): Unit
        case 2 => TxLog.deleteWhere(spark, t, col("id") % 5 === k % 5): Unit
        case 3 => TxLog.optimize(spark, t, nFiles = 1): Unit
        case _ => TxLog.restore(t, TxLog.currentVersion(t) / 2): Unit
      }
      val cur = TxLog.currentVersion(t)
      val feed = TxLog.changeFeed(spark, t, 0, cur)
        .select("id", "_change_type", "_commit_version").collect()
      val net = feed.groupBy(_.getLong(2)).toSeq.sortBy(_._1)
        .foldLeft(Set.empty[Long]) { case (acc, (_, rs)) =>
          (acc -- rs.filter(_.getString(1) == "delete").map(_.getLong(0))) ++
            rs.filter(_.getString(1) == "insert").map(_.getLong(0))
        }
      val live = TxLog.read(spark, t).select("id").collect()
        .map(_.getLong(0)).toSet
      TxLog.drop(t)
      net == live
    }

  // multi-table atomicity: under ANY interleaving of committed /
  // aborted / still-undecided transactions plus single-table appends,
  // every DECIDED transaction is all-or-nothing across its tables —
  // table A holds a transaction's batch iff table B does — and an
  // undecided one is visible NOWHERE
  property("multi-table transactions are all-or-nothing across tables " +
      "under random decide/abort/crash interleavings") =
    forAll(Gen.listOfN(4, Gen.choose(0, 3))) { ops =>
      import graft.core.TxLog
      val root = java.nio.file.Files.createTempDirectory("txmprop_").toString
      val (a, b) = (s"$root/a", s"$root/b")
      TxLog.create(spark.range(0L, 5L).selectExpr("id"), a)
      TxLog.create(spark.range(0L, 5L).selectExpr("id"), b)
      var next = 1000L
      // marker batch per op: (ids in a, ids in b), plus what we did
      val expectA = scala.collection.mutable.Set(0L until 5L: _*)
      val expectB = scala.collection.mutable.Set(0L until 5L: _*)
      ops.foreach { op =>
        val (ia, ib) = (next, next + 1); next += 2
        op match {
          case 0 => // committed multi-table txn
            TxLog.appendAll(s"$root/_txn", Seq(
              spark.range(ia, ia + 1).selectExpr("id") -> a,
              spark.range(ib, ib + 1).selectExpr("id") -> b))
            expectA += ia; expectB += ib: Unit
          case 1 => // aborted txn (claimed, decided as no-op)
            val parts = Seq(
              a -> TxLog.stage(
                spark.range(ia, ia + 1).selectExpr("id"), a)
                .map(f => s"add\t$f"),
              b -> TxLog.stage(
                spark.range(ib, ib + 1).selectExpr("id"), b)
                .map(f => s"add\t$f"))
            val (tx, _) = TxLog.claimOnly(s"$root/_txn", parts)
            TxLog.abortTx(s"$root/_txn", tx): Unit
          case 2 => // single-table appends interleave freely
            TxLog.append(spark.range(ia, ia + 1).selectExpr("id"), a)
            expectA += ia: Unit
          case _ => // committed txn via replaceAll-style lines path
            TxLog.commitAllLines(s"$root/_txn", Seq(
              a -> TxLog.stage(
                spark.range(ia, ia + 1).selectExpr("id"), a)
                .map(f => s"add\t$f"),
              b -> TxLog.stage(
                spark.range(ib, ib + 1).selectExpr("id"), b)
                .map(f => s"add\t$f")))
            expectA += ia; expectB += ib: Unit
        }
      }
      // one UNDECIDED txn on top: visible nowhere
      val pend = Seq(
        a -> TxLog.stage(
          spark.range(next, next + 1).selectExpr("id"), a)
          .map(f => s"add\t$f"),
        b -> TxLog.stage(
          spark.range(next + 1, next + 2).selectExpr("id"), b)
          .map(f => s"add\t$f"))
      TxLog.claimOnly(s"$root/_txn", pend): Unit
      val gotA = TxLog.read(spark, a).select("id").collect()
        .map(_.getLong(0)).toSet
      val gotB = TxLog.read(spark, b).select("id").collect()
        .map(_.getLong(0)).toSet
      TxLog.drop(root)
      gotA == expectA.toSet && gotB == expectB.toSet
    }

  // GridNeighbors (q334's salted eps-grid): for ANY point set —
  // including ones engineered to overflow the dense threshold — the
  // salted/sparse split must return exactly the brute-force pair set,
  // at every threshold and salt width.
  private val ptsGen: Gen[(List[(Double, Double)], Int, Int)] = for {
    n <- Gen.choose(5, 40)
    // half the points cluster inside one eps-cell (the hot key), half
    // scatter — borders land across cell boundaries
    pts <- Gen.listOfN(n, for {
      hot <- Gen.oneOf(true, false)
      x <- Gen.choose(0.0, 1.0)
      y <- Gen.choose(0.0, 1.0)
    } yield if (hot) (0.25 + x * 0.09, 0.25 + y * 0.09) else (x, y))
    thresh <- Gen.oneOf(1, 4, 1000) // always-salt / mixed / never-salt
    salts <- Gen.oneOf(1, 3)
  } yield (pts, thresh, salts)

  property("GridNeighbors.epsPairs == brute force at any density skew, " +
      "threshold, and salt width") = forAll(ptsGen) {
    case (pts, thresh, salts) =>
      val eps = 0.1
      val df = pts.zipWithIndex
        .map { case ((x, y), i) => (i.toLong, x, y) }
        .toDF("id", "x", "y")
      val got = graft.ops.GridNeighbors
        .epsPairs(df, eps, denseThreshold = thresh, salts = salts)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val brute = (for {
        (a, i) <- pts.zipWithIndex; (b, j) <- pts.zipWithIndex
        if i != j
        dx = a._1 - b._1; dy = a._2 - b._2
        if dx * dx + dy * dy < eps * eps
      } yield (i.toLong, j.toLong)).toSet
      got == brute
  }

  // TxLogOffsets (the offset arithmetic of the one txlog stream source,
  // which path and by-name streams share): offers advance monotonically,
  // never exceed the cap or the drain target, and never cross an
  // undecided version.
  property("TxLogOffsets.nextOffset: capped, monotone, and " +
      "undecided-stalling on arbitrary logs") =
    forAll(Gen.choose(2, 8), Gen.choose(1, 3), Gen.choose(0, 7)) {
      (versions, cap, undecidedAt) =>
        import graft.core.TxLog
        val root = java.nio.file.Files
          .createTempDirectory("offprop_").toString
        val t = s"$root/t"
        TxLog.create(spark.range(1L).selectExpr("id"), t)
        (1 until versions).foreach(i =>
          TxLog.append(spark.range(i, i + 1L).selectExpr("id"), t))
        // an undecided claim lands at version `versions` when in range
        val undecided = undecidedAt < versions
        if (undecided) {
          val parts = Seq(t -> TxLog.stage(
            spark.range(100L, 101L).selectExpr("id"), t)
            .map(f => s"add\t$f"))
          TxLog.claimOnly(s"$root/_txn", parts): Unit
        }
        val lim = org.apache.spark.sql.connector.read.streaming
          .ReadLimit.maxFiles(cap)
        var base = -1
        var steps = 0
        var ok = true
        var advanced = true
        while (advanced && steps < 50) {
          graft.sources.TxLogOffsets
            .nextOffset(t, base, lim, Int.MaxValue) match {
            case Some(v) =>
              ok = ok && v > base && v - base <= cap &&
                v <= versions - 1 // never offers the undecided slot
              base = v
            case None => advanced = false
          }
          steps += 1
        }
        TxLog.drop(root)
        // every decided version must eventually be offered
        ok && base == versions - 1
    }

  /** COLUMN-MAPPING MODEL CHECK: a random interleaving of RENAME /
    * DROP / ADD COLUMN / append / delete / OPTIMIZE against one table
    * must read EXACTLY like a trivial in-memory model of the same ops.
    * This is where the sharp edges live (rename→add of the old name →
    * fresh physical allocation; drop→optimize→add; renames of columns
    * later deleted on), so the model is the cheapest way to catch an
    * interaction the pointwise specs miss. */
  property("column-mapping: random rename/drop/add/append/delete/" +
      "optimize sequences read like the in-memory model") = {
    import graft.core.TxLog
    sealed trait Op
    case class Rename(fromIdx: Int, toIdx: Int) extends Op
    case class DropCol(idx: Int) extends Op
    case class AddCol(idx: Int) extends Op
    case class Append(n: Int) extends Op
    case class Delete(rowPick: Int) extends Op
    case object Optimize extends Op
    val pool = Vector("a", "b", "c", "d", "e")
    val opGen: Gen[Op] = Gen.frequency(
      3 -> (for { f <- Gen.choose(0, 4); t <- Gen.choose(0, 4) }
        yield Rename(f, t)),
      2 -> Gen.choose(0, 4).map(DropCol(_)),
      3 -> Gen.choose(0, 4).map(AddCol(_)),
      4 -> Gen.choose(1, 3).map(Append(_)),
      3 -> Gen.choose(0, 9).map(Delete(_)),
      1 -> Gen.const(Optimize))
    forAll(Gen.listOfN(6, opGen)) { ops =>
      val t = java.nio.file.Files
        .createTempDirectory("cmprop_").toString
      TxLog.drop(t)
      var cols: Vector[String] = Vector("a", "b")
      var rows: Vector[Map[String, Option[Long]]] =
        (0L until 4L).toVector.map(i =>
          Map("a" -> Some(i), "b" -> Some(i * 2)))
      TxLog.create(rows.map(r =>
        (r("a").get, r("b").get)).toDF("a", "b"), t)
      var ctr = 100L
      def appendDf(n: Int): Unit = {
        val fresh = (0 until n).toVector.map { _ =>
          ctr += 1
          cols.zipWithIndex.map { case (c, i) =>
            c -> Some(ctr * 31L + i) }.toMap
        }
        rows ++= fresh
        val data = fresh.map(r => org.apache.spark.sql.Row(
          cols.map(c => r(c).get): _*))
        val schema = org.apache.spark.sql.types.StructType(cols.map(c =>
          org.apache.spark.sql.types.StructField(c,
            org.apache.spark.sql.types.LongType)))
        TxLog.append(spark.createDataFrame(
          spark.sparkContext.parallelize(data, 1), schema), t): Unit
      }
      ops.foreach {
        case Rename(f, ti) =>
          val from = cols(f % cols.size)
          val to = pool(ti)
          if (!cols.contains(to)) {
            TxLog.renameColumn(t, from, to)
            cols = cols.map(c => if (c == from) to else c)
            rows = rows.map(r => (r - from) + (to -> r(from)))
          }
        case DropCol(i) =>
          if (cols.size > 1) {
            val c = cols(i % cols.size)
            TxLog.dropColumn(t, c)
            cols = cols.filterNot(_ == c)
            rows = rows.map(_ - c)
          }
        case AddCol(i) =>
          val c = pool(i)
          if (!cols.contains(c)) {
            val sch = TxLog.resolve(t).schema.get
              .add(c, org.apache.spark.sql.types.LongType)
            TxLog.evolveSchema(t, sch): Unit
            cols = cols :+ c
            rows = rows.map(_ + (c -> None))
          }
        case Append(n) => appendDf(n)
        case Delete(pick) =>
          if (rows.nonEmpty) {
            val key = cols.head
            val candidates = rows.flatMap(_(key))
            if (candidates.nonEmpty) {
              val v = candidates(pick % candidates.size)
              TxLog.deleteWhere(spark, t, col(key) === lit(v)): Unit
              rows = rows.filterNot(_(key).contains(v))
            }
          }
        case Optimize =>
          if (TxLog.snapshot(t).nonEmpty) TxLog.optimize(spark, t, 1): Unit
      }
      val sortedCols = cols.sorted
      val engine = TxLog.read(spark, t)
        .select(sortedCols.map(col): _*).collect()
        .map(r => sortedCols.indices.map(i =>
          if (r.isNullAt(i)) None else Some(r.getLong(i))).toVector)
        .toVector.sortBy(_.toString)
      val model = rows.map(r => sortedCols.map(r(_)).toVector)
        .sortBy(_.toString)
      TxLog.drop(t)
      val ok = engine == model
      if (!ok) println(s"ops=$ops\nengine=$engine\nmodel=$model")
      ok
    }
  }

}
