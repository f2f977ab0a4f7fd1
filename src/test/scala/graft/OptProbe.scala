package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Dev-only optimization probe (test scope, never ships): times named
  * sub-stages of expensive queries under the SAME session shape as
  * graft.Bench (local[32], shuffle=32, AQE on), so per-piece wall times
  * decompose a query's bench seconds. Usage:
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "Test/runMain graft.OptProbe dd"
  */
object OptProbe {
  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.withObjectStoreConf(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-optprobe")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[probe] $name%-40s ${(System.nanoTime() - t0) / 1e9}%8.3f s")
      r
    }
    def mat(name: String)(df: => DataFrame): Unit =
      time(name)(df.queryExecution.toRdd.count())

    val which = args.headOption.getOrElse("dd")
    // warmup pass: run once untimed, then timed
    (0 to 1).foreach { round =>
      if (round == 1) println(s"=== timed round ($which @ $d) ===")
      which match {
        case "dd" =>
          val docs = Tables.documents(spark, d)
          val sh = time("shingledOf.localCheckpoint")(
            ext.Dedup.shingledOf(docs).localCheckpoint())
          val sig = time("signaturesOf.localCheckpoint")(
            ext.Dedup.signaturesOf(sh).localCheckpoint())
          mat("bands+selfjoin+dedup")(
            {
              val bands = ext.Dedup.bandsOf(sig)
              bands.as("a").join(bands.as("b"),
                col("a.band") === col("b.band") && col("a.bh") === col("b.bh")
                  && col("a.doc_id") < col("b.doc_id"))
                .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
                .dropDuplicates("ia", "ib")
            })
          mat("lshPairsOf (full)")(ext.Dedup.lshPairsOf(docs))
          mat("componentsStars (full)")(ext.Dedup.componentsStars(spark, d))
        case "rec" =>
          import org.apache.spark.sql.expressions.Window
          val byCust = Window.partitionBy(col("o_custkey"))
            .orderBy(col("o_orderdate"), col("o_orderkey"))
          Tables.orders(spark, d)
            .select(col("o_custkey"), col("o_orderkey"),
              lead(col("o_orderkey"), 1).over(byCust).as("next_key"),
              row_number().over(byCust).as("rn"))
            .localCheckpoint()
            .createOrReplaceTempView("graft_rec_nxt")
          mat("1-hop recursion (current)")(spark.sql(
            """WITH RECURSIVE
              |walk(o_custkey, o_orderkey, next_key, hop) AS (
              |  SELECT o_custkey, o_orderkey, next_key, 1 FROM graft_rec_nxt WHERE rn = 1
              |  UNION ALL
              |  SELECT n.o_custkey, n.o_orderkey, n.next_key, w.hop + 1
              |  FROM walk w JOIN graft_rec_nxt n ON n.o_orderkey = w.next_key)
              |SELECT o_custkey, o_orderkey, hop
              |FROM walk ORDER BY o_custkey, hop""".stripMargin))
          mat("2-hop recursion (variant)")(spark.sql(
            """WITH RECURSIVE
              |walk(o_custkey, o_orderkey, next_key, hop, frontier) AS (
              |  SELECT o_custkey, o_orderkey, next_key, 1, true FROM graft_rec_nxt WHERE rn = 1
              |  UNION ALL
              |  SELECT n.o_custkey, n.o_orderkey, n.next_key, w.hop + d.s,
              |         d.s = 2 AND n.next_key IS NOT NULL
              |  FROM walk w
              |  JOIN graft_rec_nxt n1 ON w.frontier AND n1.o_orderkey = w.next_key
              |  LEFT JOIN graft_rec_nxt n2 ON n2.o_orderkey = n1.next_key
              |  JOIN LATERAL (SELECT explode(CASE WHEN n2.o_orderkey IS NULL
              |        THEN array(1) ELSE array(1, 2) END) AS s) d
              |  JOIN graft_rec_nxt n
              |    ON n.o_orderkey = CASE WHEN d.s = 1 THEN n1.o_orderkey
              |                           ELSE n2.o_orderkey END)
              |SELECT o_custkey, o_orderkey, hop
              |FROM walk ORDER BY o_custkey, hop""".stripMargin))
        case "cb" =>
          val shing = ext.Dedup.shingledOf(Tables.documents(spark, d))
          val sh0 = time("shingled ckpt")(shing.localCheckpoint())
          import org.apache.spark.sql.expressions.Window
          val sh = sh0.select(col("doc_id"), size(col("shashes")).as("n"),
            explode(col("shashes")).as("sh"))
          val dfreq = sh.groupBy(col("sh")).agg(count(lit(1)).as("df"))
          mat("dfreq")(dfreq)
          val withDf = sh.join(dfreq, Seq("sh"))
          mat("withDf join")(withDf)
          val probe = withDf
            .withColumn("rn", row_number().over(
              Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))))
            .filter(col("rn") <= expr("n DIV 2 + 1"))
            .select(col("doc_id").as("ia"), col("sh"))
          mat("probe window")(probe)
          val idx = withDf.filter(col("df") <= 16)
            .select(col("doc_id").as("ib"), col("sh"))
          val cand = probe.join(idx, Seq("sh"))
            .filter(col("ia") =!= col("ib"))
            .select(col("ia"), col("ib")).distinct()
          mat("cand join+distinct")(cand)
          mat("full dd_containment_banded")(
            SparkEntry.queries("dd_containment_banded")(spark, d))
        case "scan" =>
          for (t <- Seq("lineitem", "orders", "events", "documents",
              "embeddings", "customer", "part"))
            println(s"[probe] $t parts=" +
              Tables.load(spark, d, t).queryExecution.toRdd.getNumPartitions)
          // is a spread worth it for lineitem-scan expression queries?
          val li = Tables.lineitem(spark, d)
          mat("x_try_funcs-core as-is")(
            li.withColumn("unit_price",
              expr("try_divide(l_extendedprice, l_quantity - 25)"))
              .withColumn("qty_int", expr(
                "try_cast(concat(cast(cast(l_quantity AS INT) AS STRING), " +
                  "CASE WHEN l_returnflag = 'R' THEN 'x' ELSE '' END) AS INT)"))
              .groupBy(col("l_returnflag"))
              .agg(count(lit(1)).as("n"), count(col("unit_price")),
                sum(col("qty_int").cast("long"))))
          mat("x_try_funcs-core spread")(
            Tables.spread(li).withColumn("unit_price",
              expr("try_divide(l_extendedprice, l_quantity - 25)"))
              .withColumn("qty_int", expr(
                "try_cast(concat(cast(cast(l_quantity AS INT) AS STRING), " +
                  "CASE WHEN l_returnflag = 'R' THEN 'x' ELSE '' END) AS INT)"))
              .groupBy(col("l_returnflag"))
              .agg(count(lit(1)).as("n"), count(col("unit_price")),
                sum(col("qty_int").cast("long"))))
          mat("sim_pca_project")(SparkEntry.queries("sim_pca_project")(spark, d))
          mat("sim_covariance")(SparkEntry.queries("sim_covariance")(spark, d))
          mat("tx_char_entropy")(SparkEntry.queries("tx_char_entropy")(spark, d))
          mat("dd_semdedup")(SparkEntry.queries("dd_semdedup")(spark, d))
          mat("mm_safetensors")(SparkEntry.queries("mm_safetensors")(spark, d))
        case "uni" =>
          import ext.UnigramLM
          val m = UnigramLM.getClass.getDeclaredMethods
          def call(n: String, as: AnyRef*): AnyRef = {
            val mm = m.find(_.getName == n).get; mm.setAccessible(true)
            mm.invoke(UnigramLM, as: _*)
          }
          val words = time("wordTypes ckpt")(
            call("wordTypes", spark, d).asInstanceOf[DataFrame].localCheckpoint())
          println(s"[probe] words parts=${words.rdd.getNumPartitions} n=${words.count()}")
          val vocab0 = time("seedVocabOf mat")(
            { val v = call("seedVocabOf", words).asInstanceOf[DataFrame]
              v.queryExecution.toRdd.count(); v })
          mat("weightMap(vocab0)")(call("weightMap", vocab0).asInstanceOf[DataFrame])
          val segsDf = call("backtrackChain", call("dpChain",
            words.crossJoin(broadcast(call("weightMap", vocab0).asInstanceOf[DataFrame]))))
            .asInstanceOf[DataFrame]
          mat("dp+backtrack over words")(segsDf)
          val vf = time("trainedVocabOf ckpt")(
            call("trainedVocabOf", words).asInstanceOf[DataFrame].localCheckpoint())
          mat("kmap (dp on trained)")(call("dpChain",
            words.crossJoin(broadcast(call("weightMap",
              vf.select(col("piece"), greatest(col("usage"), lit(1L)).as("c")))
              .asInstanceOf[DataFrame]))).asInstanceOf[DataFrame])
          mat("full unigramEncode")(UnigramLM.unigramEncode(spark, d))
        case "e2e" =>
          import ext.TextOps
          val m2 = TextOps.getClass.getDeclaredMethods
          def call2(n: String, as: AnyRef*): AnyRef = {
            val mm = m2.find(_.getName == n).get; mm.setAccessible(true)
            mm.invoke(TextOps, as: _*)
          }
          val raw = Tables.documents(spark, d)
            .select(col("doc_id"), col("text"), col("lang"), col("source"))
          val quality = time("stgQuality ckpt")(
            call2("stgQuality", raw).asInstanceOf[DataFrame].localCheckpoint())
          val exact = time("stgExact ckpt")(
            call2("stgExact", quality).asInstanceOf[DataFrame].localCheckpoint())
          val neardup = time("stgNeardup ckpt")(
            call2("stgNeardup", exact).asInstanceOf[DataFrame].localCheckpoint())
          val decontam = time("stgDecontam ckpt")(
            call2("stgDecontam", raw, neardup).asInstanceOf[DataFrame].localCheckpoint())
          val mixed = time("stgMixed ckpt")(
            call2("stgMixed", decontam).asInstanceOf[DataFrame].localCheckpoint())
          val docLevel = time("stgDocLevel ckpt")(
            call2("stgDocLevel", mixed).asInstanceOf[DataFrame].localCheckpoint())
          mat("tail (shards+manifest+funnel)")(
            SparkEntry.queries("pipe_e2e_pretrain")(spark, d))
          mat("full pipe_e2e_pretrain")(
            SparkEntry.queries("pipe_e2e_pretrain")(spark, d))
          mat("full pipe_e2e_incremental")(
            SparkEntry.queries("pipe_e2e_incremental")(spark, d))
          mat("full pipe_e2e_inc_publish")(
            SparkEntry.queries("pipe_e2e_inc_publish")(spark, d))
        case "lm" =>
          // decompose lmTrainOf (r18): where do tx_lm_score's seconds go?
          val docs = Tables.spread(Tables.documents(spark, d))
          val toks = docs
            .select(col("doc_id"),
              expr("filter(split(lower(text), ' '), w -> length(w) > 0)").as("ws"))
            .filter(size(col("ws")) >= 2)
          mat("toks (scan+split)")(toks)
          val pairs = toks.select(col("doc_id"), explode(expr(
              "transform(sequence(0, size(ws) - 2), i -> struct(ws[i] AS w1, ws[i+1] AS w2))"))
              .as("p"))
            .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
          mat("pairs explode")(pairs)
          val docPair = pairs.groupBy(col("doc_id"), col("w1"), col("w2"))
            .agg(count(lit(1)).as("k"))
          mat("docPair agg")(docPair)
          val pairCnt = docPair.groupBy(col("w1"), col("w2")).agg(sum(col("k")).as("pc"))
          mat("pairCnt agg")(pairCnt)
          val ctxCnt = pairCnt.groupBy(col("w1")).agg(sum(col("pc")).as("cc"))
          val pairBits = pairCnt.join(ctxCnt, Seq("w1"))
            .withColumn("bits",
              (length(bin(col("cc"))) - length(bin(col("pc")))).cast("long"))
            .select(col("w1"), col("w2"), col("bits"))
          mat("pairBits (ctx join)")(pairBits)
          val scored = docPair
            .join(pairBits, Seq("w1", "w2"))
            .groupBy(col("doc_id"))
            .agg(sum(col("k")).as("n_pairs"),
              sum(col("k") * col("bits")).as("lm_bits"))
            .withColumn("milli_bits", expr("lm_bits * 1000 DIV n_pairs"))
          mat("scored (per-doc)")(scored)
          mat("full tx_lm_score")(SparkEntry.queries("tx_lm_score")(spark, d))
          mat("full tx_quality_ensemble")(
            SparkEntry.queries("tx_quality_ensemble")(spark, d))
          mat("full pipe_filter_funnel")(
            SparkEntry.queries("pipe_filter_funnel")(spark, d))
        case "inc" =>
          // decompose pipe_e2e_inc_publish's recurring cost (store warm)
          import ext.TextOps
          val m2 = TextOps.getClass.getDeclaredMethods
          def call2(n: String, as: AnyRef*): AnyRef = {
            val mm = m2.find(_.getName == n).get; mm.setAccessible(true)
            mm.invoke(TextOps, as: _*)
          }
          val root = TextOps.e2eIncPubRoot(d)
          TextOps.e2eIncBuildState(spark, d, root)
          val t = spark.read.parquet(new java.io.File(root, "t").toString)
            .head().getLong(0)
          val rawAll = Tables.documents(spark, d)
            .select(col("doc_id"), col("text"), col("lang"), col("source"))
          val batch = rawAll.filter(col("doc_id") > t)
          val evalDocs = rawAll.filter(col("doc_id") % ext.Dedup.EVAL_MOD === 0)
            .select(col("doc_id"), col("text"))
          def store(name: String) =
            spark.read.parquet(new java.io.File(root, name).toString)
          val qualityN = time("qualityN ckpt")(
            call2("stgQuality", batch).asInstanceOf[DataFrame].localCheckpoint())
          println(s"[probe]   qualityN partitions=" +
            qualityN.rdd.getNumPartitions)
          import org.apache.spark.sql.expressions.Window
          val exactN = time("exactN ckpt")(qualityN
            .withColumn("h", md5(col("text")))
            .withColumn("keep_id",
              min(col("doc_id")).over(Window.partitionBy(col("h"))))
            .filter(col("doc_id") === col("keep_id"))
            .join(store("seen_quality_md5"), Seq("h"), "left_anti")
            .select(col("doc_id"), col("text"), col("lang"), col("source"))
            .localCheckpoint())
          println(s"[probe]   exactN partitions=${exactN.rdd.getNumPartitions}")
          val sigN = time("sigN ckpt")(ext.Dedup.signaturesOf(
            ext.Dedup.shingledOf(exactN.select(col("doc_id"), col("text"))))
            .localCheckpoint())
          val seenSigs = store("seen_sigs")
          val bandsN = ext.Dedup.bandsOf(sigN)
          val bandsSeen = ext.Dedup.bandsOf(seenSigs)
          val candNS = bandsN.as("n")
            .join(bandsSeen.as("sn"), col("n.band") === col("sn.band")
              && col("n.bh") === col("sn.bh"))
            .select(col("sn.doc_id").as("ia"), col("n.doc_id").as("ib"))
          val candNN = bandsN.as("a")
            .join(bandsN.as("b"), col("a.band") === col("b.band")
              && col("a.bh") === col("b.bh") && col("a.doc_id") < col("b.doc_id"))
            .select(col("a.doc_id").as("ia"), col("b.doc_id").as("ib"))
          val sets = seenSigs.select(col("doc_id"), col("shashes"))
            .unionByName(sigN.select(col("doc_id"), col("shashes")))
          val dropIds = candNS.unionByName(candNN).dropDuplicates("ia", "ib")
            .join(sets.select(col("doc_id").as("ia"), col("shashes").as("sha")),
              Seq("ia"))
            .join(sigN.select(col("doc_id").as("ib"), col("shashes").as("shb")),
              Seq("ib"))
            .withColumn("inter",
              size(array_intersect(col("sha"), col("shb"))).cast("long"))
            .withColumn("jaccard", col("inter").cast("double")
              / (size(col("sha")) + size(col("shb")) - col("inter")))
            .filter(col("jaccard") >= expr(ext.Dedup.JT))
            .select(col("ib").as("doc_id")).distinct()
          val neardupN = time("neardupN ckpt")(
            exactN.join(dropIds, Seq("doc_id"), "left_anti").localCheckpoint())
          val decontamN = time("decontamN ckpt")(
            call2("stgDecontamEval", evalDocs, neardupN).asInstanceOf[DataFrame]
              .withColumn("n_tokens",
                regexp_count(lower(col("text")),
                  lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long"))
              .select(col("doc_id"), col("lang"), col("source"), col("n_tokens"))
              .localCheckpoint())
          mat("full pipe_e2e_incremental")(
            SparkEntry.queries("pipe_e2e_incremental")(spark, d))
          mat("full pipe_e2e_inc_publish")(
            SparkEntry.queries("pipe_e2e_inc_publish")(spark, d))
        case "spread" =>
          val docs = Tables.documents(spark, d)
          println(s"[probe] docs scan partitions=" +
            docs.queryExecution.toRdd.getNumPartitions)
          mat("shingledOf as-is")(ext.Dedup.shingledOf(docs))
          mat("shingledOf spread")(ext.Dedup.shingledOf(
            docs.repartition(spark.sparkContext.defaultParallelism)))
        case "stars" =>
          // replicate componentsStars' loop with per-round instrumentation
          val pairs = ext.Dedup.lshPairsOf(Tables.documents(spark, d))
            .select(col("ia"), col("ib"))
          var edges = time("init edges ckpt")(
            pairs.select(col("ib").as("u"), col("ia").as("v"))
              .distinct().localCheckpoint())
          println(s"[probe] edges partitions=${edges.rdd.getNumPartitions}")
          def fingerprint(df: DataFrame): (Long, Long) = {
            val r = df.agg(count(lit(1)), expr("bit_xor(xxhash64(u, v))")).head()
            (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
          }
          var fp = time("fingerprint0")(fingerprint(edges))
          println(s"[probe] n_edges=${fp._1}")
          var changed = true; var iter = 0
          while (changed && iter < 12) {
            val t0 = System.nanoTime()
            val adj = edges.unionByName(edges.select(col("v").as("u"), col("u").as("v")))
            val minsL = adj.groupBy(col("u")).agg(min(col("v")).as("mn"))
              .select(col("u"), least(col("u"), col("mn")).as("m"))
            val large = adj.filter(col("v") > col("u"))
              .join(minsL, "u")
              .select(col("v").as("u"), col("m").as("v"))
              .distinct()
            val adj2 = large.unionByName(large.select(col("v").as("u"), col("u").as("v")))
            val smallN = adj2.filter(col("v") < col("u"))
            val minsS = smallN.groupBy(col("u")).agg(min(col("v")).as("m"))
            val small = smallN.join(minsS, "u")
              .select(col("v").as("node"), col("m"))
              .filter(col("node") =!= col("m"))
              .unionByName(minsS.select(col("u").as("node"), col("m")))
              .distinct()
              .select(col("node").as("u"), col("m").as("v"))
              .localCheckpoint()
            val fpNew = fingerprint(small)
            changed = fpNew != fp
            fp = fpNew
            edges = small
            iter += 1
            println(f"[probe] round $iter: ${(System.nanoTime()-t0)/1e9}%.3f s parts=${edges.rdd.getNumPartitions} n=${fp._1}")
          }
        case q =>
          mat(q)(SparkEntry.queries(q)(spark, d))
      }
    }
    spark.stop()
  }
}
