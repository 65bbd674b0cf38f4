package graft.train

import scala.reflect.ClassTag

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.{PartitionPruningRDD, RDD}
import org.apache.spark.storage.StorageLevel

/**
 * Distributed epoch loop shared by every trainer (LinearAutoencoder and
 * [[AeTrainer]], the transformer and LSTM autoencoders' one fit body):
 * broadcast params -> executors
 * accumulate per-partition (gradientSum ++ lossSum ++ count) ->
 * treeAggregate -> driver applies Adam + warmup/plateau schedule + early
 * stopping. This is MLlib's own optimization pattern (e.g. LBFGS),
 * replacing the reference's Horovod-allreduce/Petastorm machinery
 * (spark/large/train.py) with Spark primitives: broadcast = param sync,
 * treeAggregate = allreduce, driver = rank 0.
 *
 * Epoch semantics follow the reference (run_epoch, utils/train.py:133-193;
 * 32k-row batch steps, spark/large/train.py:35): one epoch = ceil(n /
 * batchSize) optimizer steps, each on a disjoint random ~batchSize slice,
 * together covering the whole epoch sample. By default the epoch sample IS
 * the corpus — full reference parity. `examplesPerEpoch` caps how many
 * examples an epoch touches (smoke-test / bench budgets); that is LESS
 * optimization than a full reference epoch and callers opting in accept
 * the difference. `batchSize <= 0` means one full-batch step per epoch.
 *
 * Step slicing costs ONE pass per epoch: examples are assigned a random
 * step key map-side and shuffled into nSteps x k partitions, where step s
 * owns partitions [s*k, (s+1)*k); each optimizer step reads exactly its k
 * partitions via partition pruning — the shuffle map stage runs once and
 * is reused by every step's job (Spark skips completed map stages). The
 * per-epoch cost is O(corpus + shuffle(corpus)), NOT the O(nSteps x corpus)
 * that per-step `randomSplit` selection scans would pay — the same
 * each-shard-read-once behavior as the reference's Petastorm sharding
 * (spark/large/train.py:152-157). Slice sizes are Binomial(n, 1/nSteps) ~
 * batchSize, like randomSplit's.
 *
 * The k sub-partitions make each step data-parallel, as the reference's
 * Horovod workers split every batch: k = min(cores, ceil(batchSize /
 * MinExamplesPerTask)) tasks run the step's gradient sum side by side. A
 * step's membership does not depend on k (see [[sliceKeys]]), and the k
 * partial sums are added on the driver in partition order, so a run is
 * reproducible bit for bit; with k = 1 it is the one-task-per-step layout.
 *
 * Monitored (early-stop / plateau / reported) loss: with full coverage it
 * is the epoch's mean training loss, exactly what the reference monitors.
 * With a subsampled epoch that mean is computed on a different random
 * subset each epoch, so patience would fire (or miss) on sampling noise —
 * instead the loss is evaluated on a FIXED PROBE sample (seeded once,
 * ~half a batch, forward-only via `lossOnly`). The probe is drawn from the
 * same pool the epoch samples train on, so it is a like-with-like epoch
 * comparator, NOT a generalization holdout (examples are arbitrary user
 * types — array fields make equality-based exclusion ill-defined, and the
 * reference monitors training loss anyway). An empty slice (possible at
 * tiny fractions) contributes no optimizer step rather than a spurious
 * loss-0 "best epoch".
 */
object EpochLoop {

  final case class RunResult(losses: Seq[Double], stoppedAt: Int)

  /** Step-task grain: a step of batchSize examples is split into
    * ceil(batchSize / MinExamplesPerTask) tasks, at most one per core, so
    * at the transformer's ~3 ms of forward+backward per example
    * (perfbench's `nn.tf_lossgrad_us`, d16 caspr model, one core of a
    * 4-core x86 host) a task holds ~0.2 s of work, well above Spark's
    * per-task overhead. */
  private val MinExamplesPerTask = 64

  /**
   * Keys one map partition's examples for a sliced epoch: key = step * k +
   * sub. The step is `Random(epochSeed + pi).nextInt(nSteps)`, one draw per
   * example, so step membership is the same for every k; `sub` cycles
   * round-robin through [0, k) per step, starting at `pi`, and draws no
   * random numbers. With k = 1 the key is the step itself.
   */
  private[graft] def sliceKeys[E](it: Iterator[E], pi: Int, epochSeed: Long,
      nSteps: Int, k: Int): Iterator[(Int, E)] = {
    val rng = new java.util.Random(epochSeed + pi)
    val nextSub = Array.fill(nSteps)(pi % k)
    it.map { e =>
      val s = rng.nextInt(nSteps)
      val sub = nextSub(s)
      nextSub(s) = if (sub + 1 == k) 0 else sub + 1
      (s * k + sub, e)
    }
  }

  /**
   * Runs the loop, updating `params` IN PLACE.
   *
   * @param data     cached example RDD (callers persist + unpersist)
   * @param lossGrad (params, acc, example) => loss; must ACCUMULATE
   *                 dLoss/dParam into acc[0, params.length) and return the
   *                 example's loss. Must be serializable.
   * @param lossOnly forward-only loss evaluation used for the monitoring
   *                 probe (no gradient work); defaults to `lossGrad` with a
   *                 discarded scratch accumulator when absent.
   */
  def run[E: ClassTag](data: RDD[E], params: Array[Double], train: TrainConfig,
      batchSize: Int, examplesPerEpoch: Option[Int],
      lossGrad: (Array[Double], Array[Double], E) => Double,
      lossOnly: Option[(Array[Double], E) => Double] = None,
      frozenRanges: Seq[(Int, Int)] = Nil,
      weight: Option[E => Double] = None): RunResult = {
    val sc = data.context
    val n = params.length
    val total = data.count()
    val frac = examplesPerEpoch match {
      case Some(cap) if cap > 0 && cap < total => cap.toDouble / total
      case _ => 1.0
    }

    // Per-example weight (soft-dedup downweighting): the accumulator's
    // count slot holds the WEIGHT SUM, so the mean gradient and monitored
    // mean loss divide by total weight — an example with weight w is
    // numerically the example repeated w times (the lossGrad closure is
    // responsible for scaling its own loss/grad contributions by w).
    val weightOf: E => Double = weight.getOrElse((_: E) => 1.0)

    val addInto = (a: Array[Double], b: Array[Double]) => {
      var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
    }

    /** (gradientSum ++ lossSum ++ count) over `rdd`. `inOrder` adds the
      * per-partition sums on the driver in partition order, so the result
      * does not depend on which task finishes first (treeAggregate's final
      * fold adds them in completion order); it holds one array per
      * partition, so it is for sliced steps, whose k <= cores. */
    def sweep(rdd: RDD[E], p: Array[Double], inOrder: Boolean = false): Array[Double] = {
      val bc = sc.broadcast(p)
      val seqOp = (a: Array[Double], ex: E) => {
        val l = lossGrad(bc.value, a, ex); a(n) += l; a(n + 1) += weightOf(ex); a
      }
      val acc =
        if (inOrder)
          rdd.mapPartitions(it => Iterator.single(it.foldLeft(new Array[Double](n + 2))(seqOp)))
            .collect().foldLeft(new Array[Double](n + 2))(addInto)
        else rdd.treeAggregate(new Array[Double](n + 2))(seqOp, addInto)
      bc.destroy()
      acc
    }

    /** Forward-only mean-loss evaluation: (lossSum, count). */
    def evalLoss(rdd: RDD[E], p: Array[Double]): (Double, Double) =
      lossOnly match {
        case Some(f) =>
          val bc = sc.broadcast(p)
          val (ls, cnt) = rdd.treeAggregate((0.0, 0.0))(
            seqOp = (a, ex) => (a._1 + f(bc.value, ex), a._2 + weightOf(ex)),
            combOp = (a, b) => (a._1 + b._1, a._2 + b._2))
          bc.destroy()
          (ls, cnt)
        case None =>
          val acc = sweep(rdd, p) // gradients discarded
          (acc(n), acc(n + 1))
      }

    val probe =
      if (frac >= 1.0) None
      else {
        val want = math.max(64.0, math.min(
          (if (batchSize > 0) batchSize else 1024) / 2.0, 512.0))
        Some(data.sample(withReplacement = false,
            math.min(1.0, want / total), train.seed - 1)
          .persist(StorageLevel.MEMORY_AND_DISK))
      }

    // sub-partitions per sliced step (see the class doc)
    val k = math.max(1, math.min(sc.defaultParallelism,
      math.ceil(batchSize.toDouble / MinExamplesPerTask).toInt))

    val adam = new Adam(n, frozen = frozenRanges)
    val sched = new LrSchedule(train.lr, train.warmupEpochs)
    val stopper = new EarlyStopping(train.patience, train.delta)
    val losses = scala.collection.mutable.ArrayBuffer[Double]()
    var epoch = 0
    var stopped = false
    while (epoch < train.maxEpochs && !stopped) {
      val epochData =
        if (frac >= 1.0) data
        else data.sample(withReplacement = false, frac, train.seed + epoch)
      val nSteps =
        if (batchSize <= 0) 1 // explicit full-batch mode (and no div-by-0)
        else math.max(1, math.ceil(frac * total / batchSize).toInt)
      var lossSum = 0.0
      var cntSum = 0.0

      def step(slice: RDD[E], inOrder: Boolean): Unit = {
        val acc = sweep(slice, params, inOrder)
        val cnt = acc(n + 1)
        if (cnt > 0) { // empty-slice guard: skip the step, record no loss
          val grad = Array.tabulate(n)(i => acc(i) / cnt)
          adam.step(params, grad, sched.lr(epoch))
          lossSum += acc(n); cntSum += cnt
        }
      }

      if (nSteps == 1) step(epochData, inOrder = false)
      else {
        // one shuffle assigns each example a step and a sub-partition;
        // partition i IS key i (HashPartitioner on a key in [0, nSteps * k)
        // is the identity), and each step's job prunes to its own k
        // partitions — map outputs are computed once and reused by every
        // subsequent step (skipped stages)
        val epochSeed = train.seed ^ ((epoch + 1) * 0x9E3779B97F4A7C15L)
        val keyed = epochData
          .mapPartitionsWithIndex((pi, it) => sliceKeys(it, pi, epochSeed, nSteps, k))
          .partitionBy(new HashPartitioner(nSteps * k))
        for (s <- 0 until nSteps)
          step(PartitionPruningRDD.create(keyed, _ / k == s).map(_._2), inOrder = true)
      }

      val trainLoss = if (cntSum > 0) lossSum / cntSum else Double.PositiveInfinity
      val monitored = probe match {
        case Some(h) =>
          val (ls, cnt) = evalLoss(h, params)
          if (cnt > 0) ls / cnt else trainLoss
        case None => trainLoss
      }
      sched.observe(monitored)
      losses += monitored
      stopped = stopper.observe(epoch, monitored)
      epoch += 1
    }
    probe.foreach(_.unpersist(blocking = false))
    RunResult(losses.toSeq, epoch)
  }
}
