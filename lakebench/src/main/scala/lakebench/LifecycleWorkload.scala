package lakebench

/** `lifecycle`: the control plane of the lake, both halves of it per pass.
  * First the dataset lifecycle (`IngestWorkload`: crawl, versioned make
  * rounds with diffs, entities, catalog, lookups), then one Lakehouse tick
  * with its consumers, reads and maintenance (`LakeCdcWorkload`). Both
  * are hundreds of small Spark actions, so per-action fixed cost dominates
  * each; their spans keep them apart in a traced run. */
final class LifecycleWorkload(o: Opts) extends Workload {
  private val ingest = new IngestWorkload(o)
  private val lake = new LakeCdcWorkload(o)

  def generate(h: Harness, dir: String): Unit = {
    ingest.generate(h, s"$dir/ingest")
    lake.generate(h, dir)
  }

  def bootstrap(h: Harness): Unit = {
    ingest.bootstrap(h)
    lake.bootstrap(h)
  }

  def pass(h: Harness, i: Int): Unit = {
    ingest.pass(h, i)
    lake.pass(h, i)
  }

  override def traceExtras(h: Harness): Map[String, (Double, String)] =
    ingest.traceExtras(h) ++ lake.traceExtras(h)

  def figures(h: Harness): Map[String, (Double, String, Int)] =
    ingest.figures(h) ++ lake.figures(h)
}
