package graft
import org.apache.spark.sql.SparkSession

/** Plan auditor: prints the formatted physical plan of selected queries
  * so shuffle counts, broadcast choices, pushed filters and
  * whole-stage-codegen spans can be reviewed (the 100 TB design check).
  * Usage: runMain graft.Prof [queryName ...] (default: flagship set). */
object Prof {
  def main(args: Array[String]): Unit = {
    // SPARK_GRAFT_PROF_CONFS="k=v;k=v" applies session confs before the
    // dump — e.g. the optimization kill-switches
    // (spark.graft.fanoutSmallBytes=0, spark.graft.localCcMaxEdges=0) to
    // print the pre-optimization plan of the same query for comparison.
    val builder = SparkSession.builder().master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.ui.enabled", "false")
    sys.env.get("SPARK_GRAFT_PROF_CONFS").foreach(_.split(";").foreach { kv =>
      val Array(k, v) = kv.split("=", 2)
      builder.config(k.trim, v.trim)
    })
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val names =
      if (args.nonEmpty) args.toSeq
      else Seq("weekly_sales", "star_join_weekly", "minhash_lsh_pairs",
        "simhash_pairs", "cosine_topk", "ann_sign_lsh", "store_rp_report",
        "upsert_merge", "sessionize",
        // round-5 heavy hitters: the re-planned sketch and bigram paths
        // and the packing window. (dedup_clusters deliberately excluded:
        // constructing it RUNS the iterative CC to a checkpoint, so its
        // "plan" is just a LogicalRDD scan and the audit would pay the
        // full workload.)
        "kmv_distinct_agg", "bigram_stats", "curation_pack",
        // round-13 ANN family: the pruned persisted search and the
        // binary shortlist/re-rank shapes. (ann_drift_stats deliberately
        // excluded for the same reason as dedup_clusters: constructing
        // it RUNS a full AnnIndex.train — a corpus-scale encode plus a
        // model-table commit — and the printed plan would cover only the
        // driftStats tail, so the audit would pay the workload to
        // explain a fraction of it.)
        "ann_ivf_pq", "ann_binary_rerank")
    names.foreach { n =>
      println(s"\n================ $n ================")
      SparkEntry.queries(n)(spark, d).explain("formatted")
    }
    spark.stop()
  }
}
