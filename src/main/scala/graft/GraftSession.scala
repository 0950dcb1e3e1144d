package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale-oriented defaults.
  *
  * The reference configures only executor/driver memory
  * (reference `main.py:18-25`); the engine additionally turns on AQE
  * (runtime shuffle-partition coalescing + skew-join splitting — the two
  * knobs that matter most when the same plan must survive a 100x
  * scale-up) and pins the session timezone to UTC so timestamp semantics
  * are oracle-stable.
  */
object GraftSession {

  /** Apply engine defaults to an arbitrary builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .withExtensions(new GraftExtensions)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // NOTE on AQE coalescing: it is SIZE-based, and frames small in
    // bytes but CPU-heavy per row (hashed vocabularies, exploded-token
    // aggs) can collapse to 1-2 post-shuffle tasks. Where that bites, a
    // query pins its exchange with repartition(n, key) — which
    // satisfies the downstream distribution, adds no extra exchange,
    // and AQE never coalesces an explicit-N repartition (see
    // t_bigram_lm / x16_collocations). A global minPartitionSize floor
    // was A/B-measured a wash at local[32] and stays default.
    // fixture events.ts has shipped both as TIMESTAMP(NANOS) and
    // TIMESTAMP(MICROS) across generations; this flag keeps the nanos
    // generation readable (as int64, converted in Tables.loadEvents —
    // Spark has no nanosecond timestamp type) and is a no-op for micros
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // HotSpot never JIT-compiles a method past -XX:HugeMethodLimit
    // (8000 bytecodes, not configurable in product builds), so a fused
    // whole-stage method above it runs in the BYTECODE INTERPRETER
    // forever. Spark's default fallback threshold (65535) happily ships
    // such methods: q41's 16 stacked LSTM projections fused into ONE
    // 22254-bytecode processNext() measured 37.2s task CPU interpreted
    // vs 14.2s under the per-operator-codegen fallback this threshold
    // forces (each stage's projection is then its own small JIT-able
    // class) — and interpreter speed is what flapped q41's wall 2.2s
    // vs 5.3s between sessions (round-13 verdict #2): JIT state of the
    // megamorphic Expression.eval sites differs with bench history.
    // Splitting the fused method instead (methodSplitThreshold=256)
    // measured NO change — consume-chain locals block the split.
    .config("spark.sql.codegen.hugeMethodLimit", "8000")
    // InferFiltersFromGenerate rewrites `explode(f(x))` into
    // `Filter(size(f(x)) > 0 && isnotnull(f(x))) + explode(f(x))` — and
    // the inferred filter is then pushed BELOW any repartition, so an
    // expensive generator child (the fused tokenize+hash kernels every
    // dedup/text entry explodes) is evaluated TWICE per row, once of
    // that SERIAL on the unspread scan stage (r17; seen in the
    // t_decontam_bloom / x14 / x4 / q36 before-plans: the kernel
    // appears in a scan-stage Filter and again in the post-exchange
    // Project). Generate(explode, outer=false) skips null/empty arrays
    // natively, so the inferred filter is redundant row-pruning: on
    // corpora where no token set is empty it is pure duplicated work.
    // Excluded session-wide; A/B at sf0.1 in OPTIMIZATION_r17.md.
    .config("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
    .config("spark.ui.enabled", "false")
    // Without the native Hadoop library (none ships with Spark), the
    // stock `file:` classes fork a child process per chmod (every create
    // and mkdir) and per readlink (every FileContext rename checks both
    // ends): one pass of the perfbench stream workload forked 2029
    // times (1512 readlink, 502 chmod), about 25 per state-store commit,
    // on the critical path of every micro-batch's offset/commit log and
    // state store write. The graft.sources.ForkFree* classes answer both
    // from java.nio and leave everything else to Hadoop: same files, same
    // `.crc` sidecars, same modes, and 14 forks per pass (Spark's own
    // rm, getconf, setsid). Only the `file:` scheme is swapped; hdfs:,
    // s3a: and every other scheme keep their own implementations.
    .config("spark.hadoop.fs.file.impl",
      classOf[graft.sources.ForkFreeLocalFileSystem].getName)
    .config("spark.hadoop.fs.AbstractFileSystem.file.impl",
      classOf[graft.sources.ForkFreeLocalFs].getName)

  /** Builder shaped for a real multi-executor cluster at the 100 TB
    * target (no master set — spark-submit provides it). The knobs and
    * why:
    *  - shuffle partitions ~3x total executor cores: every core busy
    *    through stragglers, partitions small enough to fit executor
    *    memory; AQE coalesces the excess at runtime;
    *  - 256 MiB scan partitions: fewer, fuller input tasks than the
    *    128 MiB default — scan task scheduling overhead matters at
    *    100k+ files;
    *  - 64 MiB AQE advisory size: post-shuffle partitions merge toward
    *    a size that balances task overhead vs spill risk;
    *  - broadcast threshold stays default (10 MiB): dimensions broadcast,
    *    facts never do.
    */
  def clusterBuilder(totalExecutorCores: Int): SparkSession.Builder =
    configure(SparkSession.builder()
      .config("spark.sql.shuffle.partitions",
        (totalExecutorCores * 3).toString)
      .config("spark.sql.files.maxPartitionBytes", (256L << 20).toString)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        (64L << 20).toString)
      // streaming state off-heap: the default HDFS-backed in-memory
      // store caps state at executor heap; RocksDB spills to local disk
      // and changelog-checkpoints incrementally — the difference between
      // "state fits in RAM" and "state fits on disk" for large windows,
      // stream-stream joins, and dedup horizons (StreamingSpec runs the
      // windowed agg, watermark dedup, and the flatMapGroupsWithState
      // sessionizer under this provider)
      .config("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      .config("spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true"))

  /** Total bytes of the fixture dir's REGULAR FILES, recursively, in
    * MiB (fallback 1024 on any error — the "assume big" default keeps
    * cluster semantics). Recursive on purpose (round-14 review find):
    * Spark-written tables are DIRECTORIES (name.parquet/part-*), and a
    * top-level-only sum would read a 10 GiB dir-shaped fixture as ~0
    * and silently flip the session into the small-data regime. */
  def inputMb(dir: String): Long =
    try {
      val s = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
      try s.filter(p => java.nio.file.Files.isRegularFile(p))
        .mapToLong(p => p.toFile.length).sum >> 20
      finally s.close()
    } catch {
      case e: Throwable =>
        // loud fallback (round-14 advice): a transient FS error here
        // silently flips the whole run into the cluster regime (AQE on,
        // cpu fan-out); the artifact stamps shuffle_partitions/aqe, but
        // only a log line makes it diagnosable DURING the run
        Console.err.println(s"[graft] inputMb($dir) failed " +
          s"(${e.getClass.getSimpleName}) — assuming 1024 MiB " +
          "(cluster regime: AQE on, cpu fan-out)")
        1024L
    }

  /** The (shufflePartitions, aqeOn) decision of [[dataSizedLocalConf]]
    * as a pure function of input volume — separated so the regime
    * contract is unit-testable without building sessions
    * (DataSizedConfSpec). The 8-task floor WINS over the cpu cap on
    * small hosts (e.g. cpus=4 still gets 8 partitions — two task waves
    * beat under-spread CPU kernels; pinned in the spec). */
  def dataSizedSettings(inputMb: Long, cpus: Int,
      aqeMinInputMb: Long = 1024L): (Int, Boolean) =
    (math.max(8L, math.min(cpus.toLong, inputMb / 2)).toInt,
      inputMb >= aqeMinInputMb)

  /** Data-sized LOCAL tuning for the bench/verify drivers (round-13
    * verdict #1): below `aqeMinInputMb` of total input, run with AQE
    * OFF and a ~2 MiB-of-input-per-task shuffle fan-out (floored at 8
    * — the floor wins over the `cpus` cap on small hosts, see
    * [[dataSizedSettings]]). Rationale: at fixture scale every exchange is far below
    * AQE's own 64 MiB advisory target, so coalescing, skew splitting
    * and join re-planning are all no-ops — what remains of AQE is its
    * COST, one stage-materialization job + driver round-trip per
    * exchange (3-19 jobs on sub-second entries). Measured across the
    * full 175-entry registry at sf0.1/local[32], warm best-of-2 per
    * regime: AQE off won >=0.08 s on 59 entries (sum 15.8 s) and lost
    * on 4 (sum 0.6 s). At or above the threshold this helper keeps AQE
    * on and converges fan-out to the caller's cpu count — the
    * clusterBuilder regime — with ONE exception: on hosts with cpus<8
    * the 8-partition floor still wins over the cpu cap at any input
    * size (two task waves beat under-spread CPU kernels; pinned in
    * DataSizedConfSpec). The correctness gate (Verify)
    * applies the same rule, so benched plans are the gated plans.
    *
    * Measured non-wins in this regime (don't re-try): static
    * `preferSortMergeJoin=false` read slightly WORSE on every join
    * entry probed (q04/q07/q07b/q26 warm: +0.05-0.12 s each — the SMJ
    * sort of fixture-sized inputs is cheap and SHJ's build pays more),
    * and `autoBroadcastJoinThreshold=64M` likewise (+0.02-0.11 s —
    * broadcasting a 150k-row fact build side costs more than the 8-way
    * shuffle it saves at this scale). */
  def dataSizedLocalConf(b: SparkSession.Builder, dir: String,
      cpus: Int, aqeMinInputMb: Long = 1024L): SparkSession.Builder = {
    val (shuffle0, aqe0) = dataSizedSettings(inputMb(dir), cpus,
      aqeMinInputMb)
    val shuffle = sys.env.get("SPARK_GRAFT_SHUFFLE").map(_.toInt)
      .getOrElse(shuffle0)
    val aqe = sys.env.get("SPARK_GRAFT_AQE").map(_.toBoolean)
      .getOrElse(aqe0)
    b.config("spark.sql.shuffle.partitions", shuffle)
      .config("spark.sql.adaptive.enabled", aqe.toString)
  }

  /** Local session for tests / drivers. `cores` also sizes the shuffle
    * fan-out: on a real cluster this would be ~2-3x total executor cores,
    * never the 200 default. */
  def local(cores: Int = 4, appName: String = "graft"): SparkSession = {
    val s = configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
