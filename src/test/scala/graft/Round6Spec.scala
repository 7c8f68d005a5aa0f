package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Text

/** Semantics pins for the round-6 operators: the portable char hash and
  * its oracle-pinned MinHash pipeline (x39), DSIR importance selection
  * (x38), contract validation (x40), and the TPC-H Q15/Q22 shapes
  * (q62/q63). All on the sf0.001 fixture plus crafted inputs. */
class Round6Spec extends AnyFunSuite {
  import SparkTestSession._

  private def run(name: String) = SparkEntry.queries(name)(spark, sf0_001)

  test("charHash: Java-style fold, hand-computed values") {
    import spark.implicits._
    val got = Seq("a", "ab", "a_b").toDF("s")
      .select(Text.charHash(col("s")).as("h")).collect().map(_.getLong(0))
    // "a" = 97; "ab" = 97*31 + 98 = 3105; "a_b" = (97*31 + 95)*31 + 98
    assert(got.toSeq == Seq(97L, 3105L, (97L * 31 + 95) * 31 + 98))
    // range invariant: always in [0, 1e9+7)
    val big = Seq("x" * 500).toDF("s")
      .select(Text.charHash(col("s")).as("h")).head().getLong(0)
    assert(big >= 0L && big < 1000000007L)
  }

  test("x39: true near-duplicates surface with high signature agreement") {
    val rows = run("x39_minhash_portable")
      .select("doc_a", "doc_b", "est", "jaccard").collect()
    assert(rows.nonEmpty && rows.length <= 50)
    rows.foreach { r =>
      val (est, j) = (r.getDouble(2), r.getDouble(3))
      assert(est >= 0.0 && est <= 1.0 + 1e-9)
      assert(j >= 0.0 && j <= 1.0 + 1e-9)
    }
    // presentation order: jaccard descending
    assert(rows.map(-_.getDouble(3)).toSeq == rows.map(-_.getDouble(3)).sortBy(identity).toSeq)
    // the fixture's near-duplicates must top the report: a strong true
    // pair (sf0.001's best is jaccard ≈ 0.99) surfaces with high signature
    // agreement — the LSH recall property the portable hash must preserve
    val top = rows.head
    assert(top.getDouble(3) >= 0.9, "a true near-dup pair tops the report")
    assert(top.getDouble(2) >= 0.5, "its minhash signatures mostly agree")
  }

  test("x38: hashed-LM model is bounded and target source is excluded") {
    val out = run("x38_dsir_select").collect()
    assert(out.length == 100)
    out.foreach { r =>
      assert(r.getString(1) != "src18", "target-domain docs are not selected")
      val score = r.getDouble(3)
      // r(b) ≤ 1e6 by construction (t ≤ g) → the count-weighted mean is too
      assert(score > 0.0 && score <= 1000000.0)
    }
    val scores = out.map(_.getDouble(3)).toSeq
    assert(scores == scores.sortBy(-(_: Double)), "selection is ranked by score")
  }

  test("x40: clean fixture passes key/reference contracts; checked = table counts") {
    val out = run("x40_contract_check")
      .select("rule", "checked", "violations", "pass").collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getBoolean(3))))
      .toMap
    assert(out.size == 9)
    val li = Tables.table(spark, sf0_001, "lineitem").count()
    val ord = Tables.table(spark, sf0_001, "orders").count()
    assert(out("lineitem_fk_orders")._1 == li)
    assert(out("orders_fk_customer")._1 == ord)
    // the synthetic star schema is referentially intact with unique
    // dimension keys…
    Seq("lineitem_fk_orders", "orders_pk_unique", "orders_fk_customer",
      "customer_pk_unique", "customer_name_notnull")
      .foreach { rule =>
        assert(out(rule)._2 == 0L && out(rule)._3, s"$rule should pass clean")
      }
    // …but lineitem (orderkey, linenumber) is NOT unique in the fixture —
    // the report must actually catch dirty data, not rubber-stamp it
    assert(out("lineitem_pk_unique")._2 > 0L && !out("lineitem_pk_unique")._3,
      "the fixture's duplicated lineitem keys must be reported")
    out.values.foreach { case (_, v, pass) => assert(pass == (v == 0L)) }
  }

  test("x41: later copy of a 5-gram span is cut, first occurrence survives") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("span").toString
    Seq(
      (1L, "a b c d e tail1 tail2"),          // first occurrence of a_b_c_d_e
      (2L, "x y a b c d e z"),                // repeats it at offset 2
      (3L, "short doc only"))                 // < 5 tokens: untouched
      .toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("x41_span_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getString(3)))).toMap
    assert(out(1L) == ((7, 7, "a b c d e tail1 tail2")), "first copy intact")
    assert(out(2L) == ((8, 3, "x y z")), "covered span dropped, rest spliced")
    assert(out(3L) == ((3, 3, "short doc only")), "sub-gram docs untouched")
  }

  test("st06: the split stage yields two micro-batches to merge across") {
    // the staging helper reads raw events (nanos ts) — same conf its
    // production caller (the streaming conf scope) provides
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stage = graft.streaming.Streams.stageSplit(spark, sf0_001,
      Artifacts.stageEventsSplit, "event_id")
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(stage))
    val parquets = try files.filter(_.toString.endsWith(".parquet")).count()
      finally files.close()
    assert(parquets == 2L,
      "incremental agg maintenance must actually see >1 batch")
  }

  test("q64: running distinct counts the first sighting of each type once") {
    val rows = SparkEntry.queries("q64_running_distinct")(spark, sf0_001)
      .collect()
    // per user: non-decreasing, starts at 1, steps by at most 1
    rows.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      val counts = rs.map(_.getLong(3))
      assert(counts.head == 1L)
      counts.sliding(2).foreach { case Array(a, b) =>
        assert(b == a || b == a + 1)
      case _ => ()
      }
    }
  }

  test("x42: Misra-Gries survives forced decrements; exact verify prunes noise") {
    import spark.implicits._
    // 600 distinct singletons force the k=256 summary to decrement: the
    // hot word (500 occurrences, n=1100, error bound n/k < 5) MUST survive
    // in the summary, and estimate-then-verify must report exactly it.
    val hot = Seq.fill(500)("hot")
    val rare = (0 until 600).map(i => s"rare$i")
    val agg = new graft.functions.MisraGriesAggregator(graft.functions.HeavyHitters.K)
    // adversarial order: hot first, then every decrement hits its counter
    val half1 = (hot ++ rare.take(300)).foldLeft(agg.zero)(agg.reduce)
    val half2 = rare.drop(300).foldLeft(agg.zero)(agg.reduce)
    val summary = agg.finish(agg.merge(half1, half2))
    assert(summary.size <= graft.functions.HeavyHitters.K - 1)
    assert(summary.contains("hot") && summary("hot") >= 500L - 1100L / 256)
    // end-to-end on a parquet fixture with the same skew
    val dir = java.nio.file.Files.createTempDirectory("hh").toString
    ((hot ++ rare).zipWithIndex.map { case (w, i) => (i.toLong, w) })
      .toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("x42_heavy_hitters")(spark, dir).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("hot", 500L)))
  }

  test("q65: only the sole-late supplier in a multi-supplier F order waits") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q65").toString
    val t0 = java.sql.Timestamp.valueOf("1996-01-01 00:00:00")
    val late = java.sql.Timestamp.valueOf("1996-06-01 00:00:00")  // +152d
    val ontime = java.sql.Timestamp.valueOf("1996-02-01 00:00:00") // +31d
    Seq((1L, "F", t0), (2L, "F", t0), (3L, "F", t0), (4L, "O", t0))
      .toDF("o_orderkey", "o_orderstatus", "o_orderdate")
      .write.mode("overwrite").parquet(s"$dir/orders.parquet")
    Seq(
      (1L, 10L, late), (1L, 20L, ontime),  // A late, B on time -> A waits
      (2L, 10L, late), (2L, 20L, late),    // both late -> nobody
      (3L, 10L, late),                     // single supplier -> excluded
      (4L, 10L, late), (4L, 20L, ontime))  // status O -> excluded
      .toDF("l_orderkey", "l_suppkey", "l_shipdate")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    Seq((10L, "SupplierA"), (20L, "SupplierB"))
      .toDF("s_suppkey", "s_name")
      .write.mode("overwrite").parquet(s"$dir/supplier.parquet")
    val out = SparkEntry.queries("q65_waiting_suppliers")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(out == Seq(("SupplierA", 1L)))
  }

  test("q67: skyline keeps duplicate optimal points and all frontier ties") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("sky").toString
    Seq(
      (1L, 10, 5.0),   // frontier
      (2L, 10, 5.0),   // identical twin: neither dominates -> BOTH stay
      (3L, 20, 9.0),   // frontier (bigger, pricier)
      (4L, 10, 6.0),   // dominated by 1 (same size, cheaper exists)
      (5L, 5, 5.0),    // dominated by 1 (same price, bigger exists)
      (6L, 25, 9.0))   // dominates 3? no: same price, bigger size -> 3 OUT
      .toDF("p_partkey", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    val out = SparkEntry.queries("q67_skyline")(spark, dir)
      .collect().map(_.getLong(0)).toSeq
    assert(out == Seq(1L, 2L, 6L))
  }

  test("q66: only below-threshold economy lines contribute") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("q66").toString
    Seq((1L, "n", "b", "ECONOMY", 1, 1.0), (2L, "n", "b", "PROMO", 1, 1.0))
      .toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice")
      .write.mode("overwrite").parquet(s"$dir/part.parquet")
    // part 1: avg qty = 10, limit 2.0 -> only the qty=1 line (price 70)
    // part 2 (PROMO): excluded entirely
    Seq((1L, 1L, 1.0, 70.0), (1L, 1L, 19.0, 999.0), (2L, 2L, 1.0, 50.0))
      .toDF("l_orderkey", "l_partkey", "l_quantity", "l_extendedprice")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val got = SparkEntry.queries("q66_small_qty_revenue")(spark, dir)
      .head().getDouble(0)
    assert(got == BigDecimal(70.0 / 7.0).setScale(2,
      BigDecimal.RoundingMode.HALF_UP).toDouble)
  }

  test("x43: JL projection preserves pairwise cosine within the d=16 bound") {
    // basis-vector fixture pins the matrix itself: projecting e_j yields
    // column j of the sign matrix, recomputed here independently
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("jl").toString
    val basis = Seq(0, 5).map { j =>
      (j.toLong, Array.tabulate(64)(i => if (i == j) 1.0f else 0.0f).toSeq, 0)
    }
    basis.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val cols = SparkEntry.queries("x43_random_projection")(spark, dir)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getDouble).toSeq)
    def sign(k: Long, j: Long): Double =
      if (((k * 73856093L + j * 19349663L + (k + 1) * (j + 1) * 83492791L)
        % 1000003L) % 2 == 0) 1.0 else -1.0
    cols.foreach { case (j, proj) =>
      assert(proj == (0L until 16L).map(k => sign(k, j)))
    }
    // distortion on the real fixture: 50 adjacent pairs, 64-dim cosine vs
    // 16-dim projected cosine (calibrated: mean 0.158 / max 0.448)
    val full = Tables.table(spark, sf0_001, "embeddings")
      .orderBy("vec_id").limit(100)
      .select(col("vec_id"), col("embedding")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble))
    val proj = SparkEntry.queries("x43_random_projection")(spark, sf0_001)
      .limit(100).collect()
      .map(r => r.getLong(0) -> (1 to 16).map(r.getDouble).toSeq).toMap
    def cos(u: Seq[Double], v: Seq[Double]) = {
      val d = u.zip(v).map { case (a, b) => a * b }.sum
      d / (math.sqrt(u.map(x => x * x).sum) * math.sqrt(v.map(x => x * x).sum))
    }
    val errs = full.grouped(2).collect { case Array((ia, va), (ib, vb)) =>
      math.abs(cos(va, vb) - cos(proj(ia), proj(ib)))
    }.toSeq
    assert(errs.size == 50)
    assert(errs.max < 0.6, s"worst-pair distortion ${errs.max}")
    assert(errs.sum / errs.size < 0.25, s"mean distortion ${errs.sum / errs.size}")
  }

  test("x44: BPE merges apply greedily left-to-right on overlapping runs") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpe").toString
    // vocab: aaaa(freq 2), aaa(1), b(1). Merge 1 must be (a,a) weight
    // 3*2+2*1=8; 'aaaa' has matches at {0,1,2} -> greedy selects {0,2}
    // ('aa'+'aa', NOT 'aa'+'a'+'a'), 'aaa' selects {0} ('aa'+'a').
    // Merge 2: (aa,aa) from 'aaaa' weight 2; merge 3: (aa,a) weight 1.
    Seq((1L, "aaaa aaaa aaa b"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("x44_bpe_merges")(spark, dir)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    assert(out == Seq(
      (1, "a", "a", "aa", 8L),
      (2, "aa", "aa", "aaaa", 2L),
      (3, "aa", "a", "aaa", 1L)))
  }

  test("x45: encoding fertility reflects the two learned merges") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("bpee").toString
    Seq((1L, "aaaa aaaa aaa b"))
      .toDF("doc_id", "text")
      .withColumn("source", lit("s0")).withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // merges (a,a) then (aa,aa): 'aaaa'->1 piece, 'aaa'->2 (aa+a), 'b'->1
    // doc = aaaa aaaa aaa b -> 4 words, 1+1+2+1 = 5 pieces
    val out = SparkEntry.queries("x45_bpe_encode")(spark, dir).head()
    assert((out.getLong(1), out.getLong(2), out.getDouble(3)) == ((4L, 5L, 1.25)))
  }

  test("q62: every returned supplier is tied at the maximum revenue") {
    val rows = run("q62_top_supplier").select("total_rev").collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getDouble(0)).distinct.length == 1,
      "Q15 semantics: all rows share the scalar max revenue")
  }

  test("q63: dormant-rich report is non-empty and balances beat the threshold") {
    val df = run("q63_dormant_rich").collect()
    assert(df.nonEmpty)
    df.foreach(r => assert(r.getLong(1) > 0))
  }
}
