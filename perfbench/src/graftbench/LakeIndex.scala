package graftbench

/** One client over the annotation lake and the persisted text and vector
  * indexes. Operations cycle through a fixed sequence: three lake reads
  * (key IN, secondary equality, score range; each read takes the other
  * path from the one before), one upsert with its index refresh, then one
  * index batch (land files, fold them into both indexes, search for what
  * the batch planted).
  * Writes are the upsert and the batch ingest, each timed until its data
  * is visible to reads; reads are the lake reads and the searches. */
final class LakeIndex(ctx: Ctx) extends Workload {
  private val lake = new LakeMixed(ctx)
  private val index = new IndexIngest(ctx)
  private var n = 0

  def generate(): Unit = { lake.generate(); index.generate() }
  def build(): Unit = { lake.build(); index.build() }

  def op(): Unit = {
    n % cycle match {
      case 3 => lake.upsert()
      case 4 => index.batchOp()
      case i => lake.read(i)
    }
    n += 1
  }

  override def cycle: Int = 5

  /** Two cycles: one sample of a write kind varies by a fifth run to run. */
  override def minOps: Int = 2 * cycle

  /** Every operation kind once, and each read kind once. */
  override def warmup: Seq[() => Unit] =
    Seq(() => index.batchOp(), () => lake.upsert()) ++ Seq(0, 1, 2).map(k => () => lake.read(k))

  def finish(): Unit = { lake.finish(); index.finish() }

  override def traceCounts(table: Map[String, Double],
                           notes: Map[String, Double]): Map[String, Double] =
    lake.traceCounts(table, notes) + ("lake.space_amp" -> lake.spaceAmp())
}
