package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** What one workload run shares: the session, its private work
  * directory, the seed, and (in a traced run) the tracer.
  *
  * A pass is either untraced, where each chain stays one lazy plan and
  * only its outputs are materialized, or traced, where every public call
  * is split into a `build` span (the call that returns a frame) and a
  * `run` span (an eager, persisted materialization of that frame, which
  * the next call then reads).
  */
final class Ctx(val spark: SparkSession, val work: Path, val seed: Long,
    val tracer: Option[Tracer]) {
  var pass: Int = -1
  var tracing: Boolean = false
  private val held = ArrayBuffer[DataFrame]()

  def span[T](name: String)(body: => T): T =
    tracer match {
      case Some(t) if tracing => t.span(name, pass)(body)
      case _ => body
    }

  /** A public call that returns a frame. */
  def call(name: String)(build: => DataFrame): DataFrame =
    if (!tracing) build
    else span(name) {
      val df = span(s"$name.build")(build)
      val out = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += out
      span(s"$name.run")(out.count())
      out
    }

  /** A public call that runs eagerly and returns no frame. */
  def effect[T](name: String)(body: => T): T =
    if (!tracing) body else span(name)(span(s"$name.run")(body))

  /** Drop every frame a traced pass persisted. */
  def release(): Unit = {
    held.foreach(_.unpersist(blocking = true))
    held.clear()
  }
}

/** A benchmark workload: set-up (inputs, then models or index, under
  * `dir`) and one pass over the state it made.
  */
trait Workload {
  type S
  /** Generator sizes and settings, stamped on every record. */
  def params: Map[String, Any]
  /** Passes run (and checked) before measuring, so JIT and caches settle. */
  def warmPasses: Int = 1
  def setup(ctx: Ctx, dir: Path): S
  /** Work only the benchmark's checks need, done once after set-up and
    * left out of `setup_s`.
    */
  def reference(ctx: Ctx, st: S): S = st
  def pass(ctx: Ctx, st: S): Outcome
  /** Drop what set-up holds in memory. */
  def release(st: S): Unit = ()

  protected def fieldsOf(p: Product): Map[String, Any] =
    p.productElementNames.zip(p.productIterator).toMap
}

/** What a pass hands back: why it failed or gave a wrong output, if it
  * did, and workload-specific figures for the record.
  */
final case class Outcome(failure: Option[String], figures: Map[String, Double] = Map.empty)
