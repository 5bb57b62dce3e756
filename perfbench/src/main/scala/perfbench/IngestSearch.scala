package perfbench

/** One half of [[IngestSearch]]: a pass is `rounds` steps between
  * `beginPass` and `endPass`; the rest mirrors [[Workload]]. */
trait Leg {
  def inputRows: Long
  def dims: Map[String, Any]
  def prepare(): Unit
  def rounds: Int
  def beginPass(i: Int): Unit
  /** Step `b` of pass `i`; returns its latency in seconds. */
  def step(i: Int, b: Int): Double
  def endPass(i: Int): Unit
  def check(i: Int): Seq[String]
  def checkOnce(): Seq[String] = Nil
  def probes(i: Int): Unit = ()
  def derived(i: Int, c: SparkCounters): Map[String, Double] = Map.empty
  def report: Map[String, Double] = Map.empty
  def close(): Unit = ()
}

/** An index that ingests and serves: each round of a pass is one
  * micro-batch through the incremental layers ([[StreamIngest]]) and
  * then one query batch through the vector index ([[VectorSearch]]); a
  * step is one round. */
final class IngestSearch(ctx: Ctx) extends Workload {
  private val legs = Seq(new StreamIngest(ctx), new VectorSearch(ctx))
  private val rounds = legs.head.rounds

  def inputRows: Long = legs.map(_.inputRows).sum

  def dims: Map[String, Any] = legs.map(_.dims).reduce(_ ++ _)

  def bypassed: Seq[String] = Seq("sources", "pipeline", "ops", "sink.mergeTable",
    "sink.write_amp")

  def prepare(): Unit = {
    legs.foreach(_.prepare())
    require(legs.forall(_.rounds == rounds), "legs differ in rounds per pass")
  }

  def pass(i: Int): Seq[Double] = {
    legs.foreach(_.beginPass(i))
    val steps = (0 until rounds).map(b => legs.map(_.step(i, b)).sum)
    legs.foreach(_.endPass(i))
    steps
  }

  def check(i: Int): Seq[String] = legs.flatMap(_.check(i))
  override def checkOnce(): Seq[String] = legs.flatMap(_.checkOnce())
  override def probes(i: Int): Unit = legs.foreach(_.probes(i))
  override def derived(i: Int, c: SparkCounters): Map[String, Double] =
    legs.map(_.derived(i, c)).reduce(_ ++ _)
  override def report: Map[String, Double] = legs.map(_.report).reduce(_ ++ _)
  override def close(): Unit = legs.foreach(_.close())
}
