package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Run named queries one at a time through [[Run.once]]. Each argument is
  * one of:
  *   - `k=v`: a session conf set, applied IN ORDER, so one invocation can
  *     A/B an optimizer toggle: `SpotBench q92
  *     spark.sql.optimizer.excludedRules=graft.plans.WindowTopKRewrite q92`;
  *   - `<q>`: time the query with the noop sink;
  *   - `count:<q>`: its row count instead of a timed noop write, for
  *     attributing stage costs to data volume;
  *   - `explain:<q>`: print its `explain("formatted")` plan between
  *     `===== <q> =====` and `===== end <q> =====` (a failure prints its
  *     `SPOT-FAILED` line inside the block);
  *   - `profile:<q>`: time it with a listener that prints each job's wall
  *     and, per completed stage, the summed task time, record counts and
  *     shuffle volumes with the stage's call site.
  * `<q>` is a SparkEntry query name, or `probe:<name>` for a perf-probe
  * variant of a graded query that must stay outside the graded contract.
  */
object SpotBench {

  /** Perf-probe variants — same inputs as their graded twins, internals
    * deliberately altered for attribution experiments.
    */
  private val probes: Map[String, (SparkSession, String) => DataFrame] = Map(
    // q27's full pipeline with the answer AGGREGATED instead of
    // globally sorted (the q186_engine discipline): at sf10 the answer
    // is ~2.46B pairs (×100 replication squares every group expansion
    // — measured count:q27_simhash this round), so the graded query's
    // determinism sort times the answer's own volume; this probe times
    // the ENGINE (signatures, banding, hamming verify, expansion) with
    // the output streamed into one combinable aggregate.
    "q27_engine" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      SparkEntry.queries("q27_simhash")(s, dir)
        .groupBy("hamming")
        .agg(count(lit(1L)).as("n"),
          // cast each id BEFORE adding: long + long can overflow before
          // a post-add cast widens (ADVICE r15; probe-only checksum)
          sum(col("id_a").cast("decimal(38,0)") +
            col("id_b").cast("decimal(38,0)"))
            .as("soma"))
    },
    // q186's full pipeline with the answer AGGREGATED instead of
    // globally sorted: at sf10 the answer is ~2.6B scored pairs (the
    // x100 replica cross-product is the true result volume), and the
    // graded query's determinism sort is not what a production consumer
    // would do with it - this probe times the ENGINE (candidates,
    // expansion, broadcast attr joins, scoring) with the output
    // streamed into one combinable aggregate.
    "q186_engine" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      SparkEntry.queries("q186_fellegi_sunter")(s, dir)
        .groupBy("classificacao")
        .agg(count(lit(1L)).as("n"),
          sum(col("pontuacao").cast("decimal(38,12)")).as("soma"))
    },
    // IVF fit+route probes: flat vs two-level at the same TOTAL cell
    // count — the measurement behind Dedup.FlatCellLimit. Each probe
    // builds the index (k-means fit) and routes the whole corpus
    // (assignment argmin), the two costs the threshold trades: flat
    // pays O(cells·dim) per routed row with the centroid matrix as a
    // plan literal; hierarchical pays O((√cells+√cells)·dim) with
    // centroids in joined DataFrames.
    "ivf_flat_256" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 256)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_256" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 16, kFine = 16)
        .assigned.groupBy("__cell").count()
    },
    "ivf_flat_1024" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 1024)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_1024" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 32, kFine = 32)
        .assigned.groupBy("__cell").count()
    },
    "ivf_flat_4096" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.index(emb, "vec_id", "embedding", nCells = 4096)
        .assigned.groupBy("__cell").count()
    },
    "ivf_hier_4096" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      llm.Ivf.indexHierarchical(emb, "vec_id", "embedding",
          kCoarse = 64, kFine = 64)
        .assigned.groupBy("__cell").count()
    },
    // q42_ann_ivf's inputs through the prebuilt-index (distributed) path:
    // `SpotBench q42_ann_ivf probe:ivf_topk_distributed` is a same-JVM
    // A/B of the one-shot query's driver-local path
    "ivf_topk_distributed" -> { (s, dir) =>
      val emb = graft.sources.Tables.embeddings(s, dir)
      val queries = llm.CacheScope.persistTracked(emb.orderBy("vec_id").limit(32))
      SparkEntry.ordered(llm.Ivf.ivfTopK(
        llm.Ivf.index(emb, "vec_id", "embedding", nCells = 16),
        queries, "vec_id", "embedding", 10, nProbe = 4))
    },
    // vector_dot_decimal alone: every embedding against 32 query vectors,
    // scored with Similarity.cosine (three DECIMAL(38,18) folds per pair)
    "dot_decimal" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      val emb = graft.sources.Tables.embeddings(s, dir)
      val queries = emb.orderBy("vec_id").limit(32)
        .select(col("vec_id").as("query_id"), col("embedding").as("__q"))
      emb.crossJoin(broadcast(queries)).select(col("vec_id"), col("query_id"),
        llm.Similarity.cosine(col("embedding"), col("__q")).as("cos"))
    },
    // double→DECIMAL casts alone: q05's sum(cast(x AS DECIMAL(28,2))) per
    // chunk, plus a DECIMAL(38,12) sum, over lineitem; A/B the cast rule
    // with spark.sql.optimizer.excludedRules=graft.plans.ExactDecimalCast
    "cast_decimal" -> { (s, dir) =>
      import org.apache.spark.sql.functions._
      graft.sources.Tables.lineitem(s, dir)
        .groupBy((col("l_orderkey") % 8).cast("int").as("chunk"))
        .agg(
          sum(col("l_extendedprice").cast("decimal(28,2)")).as("price_28_2"),
          sum(col("l_extendedprice").cast("decimal(38,12)")).as("price_38_12"))
    })

  private def query(name: String): (SparkSession, String) => DataFrame =
    if (name.startsWith("probe:")) probes(name.stripPrefix("probe:"))
    else SparkEntry.queries(name)

  /** Prints one line per finished job and per completed stage. */
  private class JobStageLog extends SparkListener {
    private val starts =
      new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    override def onJobStart(j: SparkListenerJobStart): Unit =
      starts.put(j.jobId,
        (System.nanoTime(), Option(j.properties)
          .map(_.getProperty("callSite.short", "?")).getOrElse("?")))
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      val (t0, site) = starts.getOrDefault(j.jobId, (0L, "?"))
      println(f"JOB ${j.jobId}%3d ${(System.nanoTime() - t0) / 1e9}%8.2f s  $site")
    }
    override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
      val si = sc.stageInfo
      val tm = si.taskMetrics
      val wall = (for { s <- si.submissionTime; c <- si.completionTime }
        yield (c - s) / 1e3).getOrElse(-1.0)
      println(f"STAGE ${si.stageId}%4d wall=$wall%7.2f s tasks=${si.numTasks}%4d " +
        f"run=${tm.executorRunTime / 1e3}%8.2f s " +
        f"in=${tm.inputMetrics.recordsRead}%10d " +
        f"sRead=${tm.shuffleReadMetrics.recordsRead}%10d " +
        f"sWrite=${tm.shuffleWriteMetrics.recordsWritten}%10d  " +
        si.name.take(90))
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    for (arg <- args) {
      if (arg.contains("=")) {
        val Array(k, v) = arg.split("=", 2)
        spark.conf.set(k, v)
        println(s"SPOT-CONF $k=$v")
      } else {
        val (mode, name) = arg.split(":", 2) match {
          case Array(m @ ("count" | "explain" | "profile"), q) => (m, q)
          case _ => ("time", arg)
        }
        def run[A](action: DataFrame => A): Either[String, (A, Double)] =
          Run.once(arg, query(name)(spark, sfDir))(action)
        def timed(): Either[String, String] =
          run(Run.noop).map { case (_, sec) => f"SPOT $arg $sec%.2f s" }
        val result = mode match {
          case "count" =>
            run(_.count()).map { case (n, _) => s"SPOT-COUNT $name $n" }
          case "explain" =>
            println(s"===== $name =====")
            run(_.explain("formatted")).left.foreach(msg => println(s"SPOT-FAILED $arg $msg"))
            Right(s"===== end $name =====")
          case "profile" =>
            val log = new JobStageLog
            spark.sparkContext.addSparkListener(log)
            try timed() finally spark.sparkContext.removeSparkListener(log)
          case _ => timed()
        }
        println(result.fold(msg => s"SPOT-FAILED $arg $msg", identity))
      }
    }
    spark.stop()
  }
}
