package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

import graft.functions._

/** Session-extension entry point: makes the native graft expressions
  * available on any session via
  * `spark.sql.extensions=graft.GraftExtensions` — the deployment path
  * for a cluster where users can't call
  * [[graft.functions.GraftFunctions.register]] themselves (e.g. pure-SQL
  * clients over Thrift/Connect).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo("graft", null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    // SQL DML over snapshot tables: Spark's parser already yields
    // DeleteFromTable/UpdateTable/MergeIntoTable plans; this rule
    // lowers them onto the CoW verbs (GraftDml has the shared lowering)
    e.injectResolutionRule(session => graft.sources.GraftDmlRule(session))
    // …and in the pre-resolution Hints batch: catalog-addressed DML
    // (`MERGE INTO graft.db.t …`) must lower BEFORE builtin resolution
    // expands `UPDATE SET *` with its name-matched-source semantics
    // (which reject the key-renaming CDC-feed shape the verbs support)
    e.injectHintResolutionRule(session => graft.sources.GraftDmlRule(session))
    // Reads of GraftTableCatalog tables resolve onto readSnapshotAuto
    // (stats pruning + DV anti-joins + time travel) — MUST come after
    // the DML rule so mutation targets lower first
    e.injectResolutionRule(session => graft.sources.GraftCatalogReadRule(session))
    // SUM over ≤18-digit decimals leaves decimal space (four base-2^16
    // long limbs, recombined exactly per group) — the money-discipline
    // hot path across the relational + TPC-H surface; bit-identical by
    // construction, DecSumSpec + the 276-query oracle gate pin it.
    e.injectOptimizerRule(_ => graft.plans.DecimalSumLimbs)
    e.injectFunction((FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(array<string>) - 64-bit SimHash of a token array"),
      es => SimHash64(es.head)))
    e.injectFunction((FunctionIdentifier("minhash32"),
      info("minhash32", "minhash32(array<string>) - 32-permutation MinHash signature"),
      es => MinHash32(es.head)))
    e.injectFunction((FunctionIdentifier("minhash_shingle32"),
      info("minhash_shingle32",
        "minhash_shingle32(array<string>) - MinHash32 over 3-token shingles"),
      es => MinHashShingle32(es.head)))
    e.injectFunction((FunctionIdentifier("vec_dot"),
      info("vec_dot", "vec_dot(array<float|double>, array<float|double>) - dot product"),
      es => VecDot(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("vec_norm"),
      info("vec_norm", "vec_norm(array<float|double>) - L2 norm"),
      es => VecNorm(es.head)))
    e.injectFunction((FunctionIdentifier("lsh_bucket64"),
      info("lsh_bucket64",
        "lsh_bucket64(array<float|double>) - random-hyperplane LSH bucket id"),
      es => LshBucket64(es.head)))
    e.injectFunction((FunctionIdentifier("vec_sign64"),
      info("vec_sign64",
        "vec_sign64(array<float|double>) - 64-bit random-hyperplane sign signature"),
      es => VecSign64(es.head)))
    e.injectFunction((FunctionIdentifier("pq_adc"),
      info("pq_adc",
        "pq_adc(array<int>, array<double>) - PQ asymmetric-distance lookup-table sum"),
      es => PqAdc(es(0), es(1))))
    e.injectFunction((FunctionIdentifier("fingerprint64"),
      info("fingerprint64",
        "fingerprint64(array<string>) - struct(fp64, win_fp) rolling document fingerprint"),
      es => Fingerprint64(es.head)))
    e.injectFunction((FunctionIdentifier("token_stats"),
      info("token_stats",
        "token_stats(array<string>) - struct(n_tok, n_uniq, top_n, n_letters)"),
      es => TokenStats(es.head)))
    e.injectFunction((FunctionIdentifier("ngram_dup_stats"),
      info("ngram_dup_stats",
        "ngram_dup_stats(array<string>) - struct(grams2, dup2, grams5, dup5)"),
      es => NgramDupStats(es.head)))
    e.injectFunction((FunctionIdentifier("shingle_hashes"),
      info("shingle_hashes",
        "shingle_hashes(array<string>) - distinct 3-token shingle hashes"),
      es => ShingleHashes(es.head)))
    e.injectFunction((FunctionIdentifier("ordered_pairs64"),
      info("ordered_pairs64",
        "ordered_pairs64(array<bigint>) - all ordered (a<b) id pairs"),
      es => OrderedPairs64(es.head)))
    e.injectFunction((FunctionIdentifier("bigrams"),
      info("bigrams", "bigrams(array<string>) - adjacent-token bigram strings"),
      es => Bigrams(es.head)))
    e.injectFunction((FunctionIdentifier("sig_pairs"),
      info("sig_pairs",
        "sig_pairs(array<struct<bigint,array<bigint>>>) - pairs with signature-agreement counts"),
      es => SigPairs(es.head)))
    e.injectFunction((FunctionIdentifier("token_entropy"),
      info("token_entropy",
        "token_entropy(array<string>) - Shannon entropy (nats) of the token distribution"),
      es => TokenEntropy(es.head)))
    e.injectFunction((FunctionIdentifier("hamming_pairs"),
      info("hamming_pairs",
        "hamming_pairs(array<struct<bigint,bigint>>) - pairs with Hamming distances"),
      es => HammingPairs(es.head)))
    e.injectFunction((FunctionIdentifier("bucket_of"),
      info("bucket_of",
        "bucket_of(double, array<double>) - #boundaries <= v by binary search"),
      es => BucketOf(es(0), es(1))))
    // mergeable-sketch aggregate family (q103/q106-q108, SketchMv) —
    // full parity with the GraftFunctions temp registry so pure-SQL
    // clients get the same surface
    e.injectFunction((FunctionIdentifier("theta_sketch_agg"),
      info("theta_sketch_agg",
        "theta_sketch_agg(col) - compact theta sketch bytes of the group"),
      es => ThetaSketchAgg(es.head)))
    e.injectFunction((FunctionIdentifier("theta_count"),
      info("theta_count", "theta_count(sketch) - estimated distinct count"),
      es => ThetaCount(es.head)))
    e.injectFunction((FunctionIdentifier("theta_intersect_count"),
      info("theta_intersect_count",
        "theta_intersect_count(a, b) - estimated |A intersect B|"),
      es => ThetaSetOpCount(es(0), es(1), "intersect")))
    e.injectFunction((FunctionIdentifier("theta_anotb_count"),
      info("theta_anotb_count",
        "theta_anotb_count(a, b) - estimated |A minus B|"),
      es => ThetaSetOpCount(es(0), es(1), "anotb")))
    e.injectFunction((FunctionIdentifier("theta_union_count"),
      info("theta_union_count",
        "theta_union_count(a, b) - estimated |A union B|"),
      es => ThetaSetOpCount(es(0), es(1), "union")))
    e.injectFunction((FunctionIdentifier("kll_sketch_agg"),
      info("kll_sketch_agg",
        "kll_sketch_agg(col) - KLL doubles sketch bytes of the group"),
      es => KllSketchAgg(es.head)))
    e.injectFunction((FunctionIdentifier("kll_merge_agg"),
      info("kll_merge_agg",
        "kll_merge_agg(sketch) - merge of KLL partial sketches"),
      es => KllMergeAgg(es.head)))
    e.injectFunction((FunctionIdentifier("kll_quantiles"),
      info("kll_quantiles",
        "kll_quantiles(sketch, array<double>) - quantile values at the given ranks"),
      es => KllQuantiles(es(0), es(1))))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot"),
      info("graft_snapshot",
        "graft_snapshot(root[, version]) - a graft snapshot table (head or time travel) as a table-valued function; WHERE clauses data-skip via manifest stats"),
      graft.sources.GraftTvf.snapshotBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_changes"),
      info("graft_snapshot_changes",
        "graft_snapshot_changes(root, fromV, toV) - the snapshot table's CDC changelog over (fromV, toV] with _change/_version tags"),
      graft.sources.GraftTvf.changesBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_history"),
      info("graft_snapshot_history",
        "graft_snapshot_history(root) - the snapshot table's commit log (DESCRIBE HISTORY) from pure metadata"),
      graft.sources.GraftTvf.historyBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_partitions"),
      info("graft_snapshot_partitions",
        "graft_snapshot_partitions(root) - per-partition file/row/byte counts (DESCRIBE PARTITIONS) from pure metadata"),
      graft.sources.GraftTvf.partitionsBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_files"),
      info("graft_snapshot_files",
        "graft_snapshot_files(root[, version]) - per-file layout (rows/bytes/mtime/spec/tuple/DV counts) from pure metadata"),
      graft.sources.GraftTvf.filesBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_spj"),
      info("graft_snapshot_spj",
        "graft_snapshot_spj(root[, version]) - storage-partitioned read reporting the hidden bucket layout for shuffle-free joins"),
      graft.sources.GraftTvf.spjBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_vacuum_dry_run"),
      info("graft_vacuum_dry_run",
        "graft_vacuum_dry_run(root, keepFrom[, graceMs]) - everything a vacuum with these parameters WOULD reap, as (kind, item) rows, deleting nothing"),
      graft.sources.GraftTvf.vacuumDryRunBuilder))
    e.injectTableFunction((FunctionIdentifier("graft_snapshot_cursors"),
      info("graft_snapshot_cursors",
        "graft_snapshot_cursors(root) - registered stream cursors (retention floors) as (cursor, pinned_version) rows"),
      graft.sources.GraftTvf.cursorsBuilder))
  }
}
