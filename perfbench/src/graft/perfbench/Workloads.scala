package graft.perfbench

import org.apache.spark.sql.SparkSession

import graft.operators.Similarity

/** One benchmark workload: the `SparkEntry` queries a pass runs, and the index
  * builds its set-up performs (each through its public accessor). */
final case class Workload(name: String, queries: Seq[String],
    indexBuilds: Seq[(String, (SparkSession, String) => Any)])

/** The workloads. Each is a fixed slice of one `SparkEntry` query family,
  * one query per plan shape or commit verb the family is chosen for, sized
  * so that a pass takes about five seconds at sf0.1 on four cores. A run
  * (session, set-up, one warm pass, three measured passes) then stays near
  * 50 s, so that 4 + 22 runs per workload, two builds included, stay well
  * under an hour on a noisy host. NOTES.md lists what each slice leaves
  * out. */
object Workloads {
  val all: Seq[Workload] = Seq(
    // Reference plan shapes, short queries: a six-table star join (q5),
    // semi + anti joins with the largest shuffle (q21), and a filtered
    // scan into a two-phase aggregation (q6). Every query re-registers the
    // ten source tables, which is about half its wall.
    Workload("tpch", Seq("tpch_q5", "tpch_q21", "tpch_q6"), Nil),
    // The write workload, driver-bound: a copy-on-write MERGE, a
    // merge-on-read DELETE, and a two-table transaction, each a commit
    // through the snapshot protocol with several Spark jobs.
    Workload("lifecycle", Seq("q117_merge_cow", "q140_mor_delete", "q159_txn_multi"), Nil),
    // LLM-data operators, execution-bound: exact-hash and MinHash dedup,
    // tokenizing text statistics, TF-IDF over a shuffle, and an IVF probe
    // of the vector index, which set-up builds.
    Workload("llm_pipeline", Seq("d01_dedup_exact", "d03_dedup_minhash", "t03_tokens",
      "t20_tfidf", "s03_ann_ivf"), Seq(
      "ivf_index" -> ((s, sf) => Similarity.ivfIndex(s, sf)))))

  def apply(name: String): Workload =
    all.find(_.name == name).getOrElse(sys.error(s"unknown workload $name"))
}
