package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-3 additions: the minhash-based apply path, Avro round-trip,
  * CosineSim rewrite semantics-preservation (null propagation +
  * guarded pattern match), trained IVF codebook, streaming incremental
  * dedup, int8 quantization, compaction/packing plan shapes, image
  * dHash properties, the native as-of join (row equality, plan shape,
  * edge cases, bucketed shuffle-elision), the Misra–Gries frequency
  * guarantee, and the binned interval join. */
class Round3Spec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  val sf = TestSpark.sf

  test("minhash-based near-dup apply keeps exactly the exact-based survivors") {
    // LSH recall at J>=0.8 is ~0.9997 on this corpus — on the fixture
    // data the candidate set covers every true pair, so the two apply
    // paths must agree row-for-row
    val exact = SparkEntry.queries("dedup_apply_neardup")(spark, sf).collect().toSeq
    val lsh = SparkEntry.queries("dedup_apply_minhash")(spark, sf).collect().toSeq
    assert(lsh == exact)
  }

  test("avro round-trip is lossless vs the parquet original") {
    val back = SparkEntry.queries("src_avro_roundtrip")(spark, sf).collect().toSeq
    val orig = util.t(spark, sf, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .orderBy(col("event_id")).collect().toSeq
    assert(back.nonEmpty && back == orig)
  }

  test("CosineSim yields NULL on length mismatch and null elements, like the HOF form") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0, 2.0)),   // clean
      (2L, Seq[java.lang.Double](1.0, 2.0), Seq[java.lang.Double](1.0)),        // ragged
      (3L, Seq[java.lang.Double](1.0, null), Seq[java.lang.Double](1.0, 2.0))   // null elem
    ).toDF("id", "a", "b")
    // (comparing against Vectors.cosine here would be vacuous — the
    // session-wide ReplaceHofCosine rewrites it to CosineSim too; the
    // HOF null behavior being mirrored is: zip_with null-pads ragged
    // arrays and a null element poisons the aggregate fold → NULL)
    val out = df.select(col("id"),
        functions.CosineSim.cosine(col("a"), col("b")).as("nat"))
      .orderBy(col("id")).collect()
    assert(!out(0).isNullAt(1) && out(0).getDouble(1) == 1.0)
    assert(out(1).isNullAt(1), "ragged arrays must yield NULL")
    assert(out(2).isNullAt(1), "null elements must yield NULL")
  }

  test("trained IVF codebook is deterministic and balances buckets") {
    import org.apache.spark.sql.functions.{col, max => smax}
    val e = util.t(spark, sf, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // bit-reproducible training (decimal means, hash-deterministic
    // sample + init): two runs must agree exactly
    val c1 = operators.Similarity.trainCodebook(spark, e, 16)
      .orderBy("cid").collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    val c2 = operators.Similarity.trainCodebook(spark, e, 16)
      .orderBy("cid").collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    assert(c1.toSeq == c2.toSeq, "codebook training is not deterministic")
    assert(c1.length == 16 && c1.forall(_._2.length == 64))
    // bucket balance: the hottest bucket must hold a bounded share of
    // the index entries, or IVF pruning degrades to a full scan
    val assign = operators.Similarity.ivfAssignments(spark, sf).cache()
    val total = assign.count().toDouble
    val hottest = assign.groupBy("cid").count()
      .agg(smax("count")).collect()(0).getLong(0).toDouble
    assert(hottest / total <= 0.4,
      f"hottest IVF bucket holds ${hottest / total}%.2f of index entries")
    // every corpus vector is indexed (multi-probe 2)
    val nVecs = e.count()
    assert(assign.select("vec_id").distinct().count() == nVecs)
    assign.unpersist()
  }

  test("incremental streaming dedup converges to batch dedup for any arrival split") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      import operators.StreamingOps.{Doc, DedupProcessor}
      val docs = Seq(
        Doc("a b", 5), Doc("c d", 9), Doc("a b", 2), // "a b" spans batches
        Doc("e", 7), Doc("a b", 11), Doc("c d", 1))
      val (first, rest) = docs.splitAt(3)
      val mem = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[Doc]
      val name = "r3_dedup_" + java.util.UUID.randomUUID.toString.replace("-", "")
      val q = mem.toDS().groupByKey(_.norm)
        .transformWithState(new DedupProcessor,
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Update())
        .toDF("norm", "doc_id", "n_copies")
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      mem.addData(first); q.processAllAvailable()
      mem.addData(rest); q.processAllAvailable()
      q.stop()
      val streamed = spark.table(name)
        .groupBy(col("norm"))
        .agg(max_by(struct(col("doc_id"), col("n_copies")), col("n_copies")).as("r"))
        .select(col("norm"), col("r.doc_id"), col("r.n_copies"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = docs.groupBy(_.norm).map { case (k, ds) =>
        (k, ds.map(_.doc_id).min, ds.size.toLong)
      }.toSet
      assert(streamed == batch)
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("stream_dedup_corpus equals the batch normalized dedup") {
    val streamed = SparkEntry.queries("stream_dedup_corpus")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val batch = SparkEntry.queries("dedup_normalized")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(streamed.nonEmpty && streamed == batch)
    // the memory sink's temp view is dropped once the result is built
    val leftover = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("dedup_corpus_"))
    assert(leftover.isEmpty, s"sink views left: ${leftover.map(_.name).mkString(", ")}")
  }

  test("int8 quantization keeps cosine fidelity and bounded element error") {
    val rows = SparkEntry.queries("sim_quantize_int8")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val label = r.get(0)
      assert(r.getDouble(2) >= 0.999, s"label $label worst cosine ${r.getDouble(2)}")
      // symmetric round-to-nearest quantization error is <= scale/2
      assert(r.getDouble(3) <= 0.500001, s"label $label err/scale ${r.getDouble(3)}")
    }
    // quantized values actually fit int8
    val e = util.t(spark, sf, "embeddings")
      .selectExpr("cast(embedding as array<double>) as v")
      .selectExpr("greatest(aggregate(v, 0D, (acc, x) -> greatest(acc, abs(x))), 1e-12D) / 127.0 as scale", "v")
      .selectExpr("aggregate(transform(v, x -> abs(round(x / scale))), 0D, (acc, x) -> greatest(acc, x)) as maxq")
    assert(e.filter(col("maxq") > 127).count() == 0)
  }

  test("compaction's coalesce is a narrow repartition — no shuffle exchange") {
    val out = s"${sys.props("java.io.tmpdir")}/graft_coalesce_spec_" +
      java.util.UUID.randomUUID.toString.replace("-", "")
    util.t(spark, sf, "events").select("event_id").repartition(8)
      .write.parquet(out)
    val plan = spark.read.parquet(out).coalesce(2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("Coalesce"), s"no Coalesce in:\n$plan")
    assert(!plan.contains("Exchange"), s"coalesce shuffled:\n$plan")
  }

  test("sequence packing fills sequences to capacity (no empty or over-start sequences)") {
    val rows = SparkEntry.queries("text_pack_sequences")(spark, sf).collect()
    assert(rows.nonEmpty)
    // every sequence holds at least one doc, and within each language
    // seq ids are dense from 0 (the concat layout leaves no holes)
    rows.groupBy(_.getString(0)).foreach { case (lang, rs) =>
      val ids = rs.map(_.getLong(1)).sorted.toSeq
      assert(ids.headOption.contains(0L) && ids == (0L until ids.length).map(_.toLong),
        s"lang $lang has sequence holes: ${ids.take(10).toSeq}")
      assert(rs.forall(_.getLong(2) >= 1))
    }
  }

  test("image dHash respects the hamming bound and is a true perceptual hash") {
    import operators.Multimodal.dhashOf
    import functions.Ppm
    // fixture run: every reported pair is within the bound, deterministic
    val run1 = SparkEntry.queries("mm_image_dhash_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run1.forall(_._3 <= 3))
    val run2 = SparkEntry.queries("mm_image_dhash_pairs")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(run1 == run2)
    // pure-hash properties (the fixture has no identical texts, so the
    // collision guarantees are property-checked directly):
    // identical payloads hash identically
    val p1 = Ppm.encode(Ppm.synth("graft spark window batch"))
    val p2 = Ppm.encode(Ppm.synth("graft spark window batch"))
    assert(dhashOf(p1) == dhashOf(p2))
    // +1 luma jitter on every pixel keeps the hash within hamming 3
    val img = Ppm.synth("graft spark window batch join merge")
    val jittered = Ppm.Image(img.width, img.height, img.maxVal,
      img.pixels.map(b => (math.min((b & 0xFF) + 1, 255)).toByte))
    val d = java.lang.Long.bitCount(
      dhashOf(Ppm.encode(img)) ^ dhashOf(Ppm.encode(jittered)))
    assert(d <= 3, s"jitter moved dHash by $d bits")
    // different images hash differently
    assert(dhashOf(p1) != dhashOf(Ppm.encode(Ppm.synth("completely different words here"))))
  }

  test("native as-of join equals the window-based as-of and plans AsOfJoinExec, no Window") {
    val composed = SparkEntry.queries("q36_asof_join")(spark, sf).collect().toSeq
    val native = SparkEntry.queries("q36b_asof_native")(spark, sf)
    val nativeRows = native.collect().toSeq
    assert(nativeRows.nonEmpty && nativeRows == composed)
    val plan = native.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"native exec not planned:\n$plan")
    assert(!plan.contains("Window"), s"window survived in native plan:\n$plan")
  }

  test("native as-of join handles empty sides and null keys") {
    import spark.implicits._
    val l = Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("lid", "k", "t")
    val rEmpty = Seq.empty[(Long, Long, String)].toDF("rk", "rt", "v")
    assert(graft.plans.AsOf.join(l, rEmpty, "k", "rk", "t", "rt").count() == 0)
    // null key on the right never matches; match picks latest ts <= t
    val r = Seq((java.lang.Long.valueOf(10L), 90L, "old"),
      (java.lang.Long.valueOf(10L), 95L, "new"),
      (null.asInstanceOf[java.lang.Long], 99L, "nullkey"),
      (java.lang.Long.valueOf(20L), 300L, "late")).toDF("rk", "rt", "v")
    val out = graft.plans.AsOf.join(l, r, "k", "rk", "t", "rt")
      .select("lid", "v").collect().map(x => (x.getLong(0), x.getString(1))).toSet
    assert(out == Set((1L, "new"))) // lid=2: only a too-late right row
  }

  test("Misra-Gries sketch honors the frequency guarantee at small capacity") {
    import spark.implicits._
    import graft.functions.MisraGriesTopK.misraGries
    // skewed stream: "hot" appears 400/1000 times, capacity 4 ⇒ any
    // term with freq > n/(capacity+1) = 200 MUST be reported, with
    // count undercounting by at most 200
    val words = (Seq.fill(400)("hot") ++ Seq.fill(250)("warm") ++
      (0 until 350).map(i => s"cold${i % 70}"))
    // deterministic shuffle so arrival order isn't adversarial-sorted
    val stream = words.zipWithIndex
      .sortBy { case (w, i) => scala.util.hashing.MurmurHash3.stringHash(s"$w$i") }
      .map(_._1)
    val out = stream.toDF("w").repartition(7) // exercise partial merges
      .agg(misraGries(col("w"), 4).as("hh"))
      .select(explode(col("hh")).as("e"))
      .select(col("e.term"), col("e.count")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out.size <= 4)
    assert(out.contains("hot"), s"hot missing from $out")
    assert(out("hot") >= 400 - 200 && out("hot") <= 400)
    assert(out.contains("warm"), s"warm missing from $out")
    assert(out("warm") >= 250 - 200 && out("warm") <= 250)
  }

  test("interval-binned join equals the nested-loop interval join") {
    val binned = SparkEntry.queries("q50_interval_join_binned")(spark, sf).collect().toSeq
    val ev = util.t(spark, sf, "events")
    val p = ev.filter(col("event_type") === "purchase" && col("event_id") % 20 === 0)
      .select(col("event_id").as("period_id"), col("ts").as("p_start"))
    val c = ev.filter(col("event_type") === "click").select(col("ts").as("c_ts"))
    val plain = c.join(p, col("c_ts") >= col("p_start") &&
        col("c_ts") < col("p_start") + expr("INTERVAL 2 HOURS"))
      .groupBy(col("period_id")).agg(count(lit(1)).as("n_clicks"))
      .orderBy(col("period_id")).collect().toSeq
    assert(binned.nonEmpty && binned == plain)
  }

  test("native as-of join over bucketed tables elides both shuffle exchanges") {
    val suffix = java.util.UUID.randomUUID.toString.replace("-", "").take(8)
    val (cTbl, pTbl) = (s"r3_asof_clicks_$suffix", s"r3_asof_purch_$suffix")
    val ev = util.t(spark, sf, "events")
    ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .write.bucketBy(8, "user_id").sortBy("user_id", "click_ts").saveAsTable(cTbl)
    ev.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      .write.bucketBy(8, "p_user").sortBy("p_user", "p_ts").saveAsTable(pTbl)
    val joined = graft.plans.AsOf.join(
      spark.table(cTbl), spark.table(pTbl), "user_id", "p_user", "click_ts", "p_ts")
    joined.collect()
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), s"no AsOfJoin in:\n$plan")
    assert(!plan.contains("Exchange"),
      s"bucketed as-of join still shuffles:\n$plan")
  }

  test("binned interval join plans a hash join, not a nested loop") {
    val df = SparkEntry.queries("q50_interval_join_binned")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop"), s"interval join fell back to nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi join in:\n$plan")
  }

  test("heavy hitters aggregate runs with a partial (map-side) phase") {
    val df = SparkEntry.queries("text_heavy_hitters")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), s"sketch not object-agg planned:\n$plan")
    assert(plan.contains("partial_misra_gries") || plan.contains("partial misra"),
      s"no partial aggregation phase in:\n$plan")
  }

  test("salted join shuffles on (key, salt) when broadcast is off") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("q49_salted_join")(spark, sf)
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin"),
        s"no shuffle join in:\n$plan")
      assert(plan.contains("salt"), s"salt not in the join keys:\n$plan")
      // and the salted result still equals the plain join's oracle shape
      val direct = util.t(spark, sf, "events")
        .join(util.t(spark, sf, "customer").filter(col("c_custkey") < 500),
          col("user_id") === col("c_custkey"))
        .groupBy(col("c_mktsegment"), col("event_type"))
        .agg(count(lit(1)).as("n"), util.dsum(col("value")).as("sum_value"))
        .orderBy(col("c_mktsegment"), col("event_type")).collect().toSeq
      assert(df.collect().toSeq == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("ReplaceHofCosine does not rewrite a self-product zip_with") {
    // zip_with(a, b, (x,y) -> x*x) is NOT a dot product — the guarded
    // pattern must leave it (and the whole round/divide tree) alone
    val e = util.t(spark, sf, "embeddings").limit(10)
      .select(col("embedding").cast("array<double>").as("v"))
    val notDot = e.select(expr(
      """round(aggregate(zip_with(v, v, (x, y) -> x * x), 0D, (acc, x) -> acc + x) /
        | (sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x)) *
        |  sqrt(aggregate(v, 0D, (acc, x) -> acc + x * x))), 6)""".stripMargin).as("c"))
    val optimized = notDot.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("graft_cosine"),
      s"self-product was wrongly rewritten to a dot product:\n$optimized")
    notDot.collect() // and it still evaluates
  }
}
