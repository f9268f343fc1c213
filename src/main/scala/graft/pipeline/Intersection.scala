package graft.pipeline

/** The processing-operator contract — Spark mapping of motorway's
  * `Intersection.process(msg) -> Iterator[Message]`
  * (`motorway/intersection.py:24-47,168-177`): a 1→N flatMap over
  * messages. Implementations must be serializable (they ship to
  * executors).
  *
  * Failure semantics: a throwing `process` does NOT fail the batch —
  * the input is captured as a [[DeadLetter]] (≙ `fail()` + traceback,
  * `intersection.py:135-143`) and the stream continues. This is the
  * poison-message mitigation of SURVEY.md §7.4: the reference replays
  * individual messages from the ramp; Spark would replay the whole
  * micro-batch forever.
  *
  * `process` must depend only on its message, not on which messages
  * share its task or instance (an `object` is one instance per JVM):
  * the pipeline places messages freely. Keyed state belongs in a
  * [[StatefulIntersection]], whose stage shuffles by its own key.
  */
trait Intersection[I, O] extends Serializable {
  def process(m: Message[I]): Iterator[Message[O]]

  /** Operator name used in dead letters / metrics. */
  def name: String = getClass.getSimpleName.stripSuffix("$")
}

object Intersection {
  /** Lift a plain function. */
  def apply[I, O](opName: String)(f: Message[I] => Iterator[Message[O]]): Intersection[I, O] =
    new Intersection[I, O] {
      override def name: String = opName
      def process(m: Message[I]): Iterator[Message[O]] = f(m)
    }

  /** Run an intersection over one input, capturing failures as dead
    * letters instead of throwing. Each call runs inside the
    * [[Instrumentation]] seam (≙ `instrumentation_manager("<cls>.process")`
    * around every process call, `motorway/intersection.py:149`). */
  private[pipeline] def safeProcess[I, O](
      op: Intersection[I, O], m: Message[I]): Either[DeadLetter, Seq[Message[O]]] =
    try Right(Instrumentation.active.around(s"${op.name}.process")(op.process(m).toSeq))
    catch {
      case scala.util.control.NonFatal(e) =>
        val sw = new java.io.StringWriter
        e.printStackTrace(new java.io.PrintWriter(sw))
        Left(DeadLetter(m.id, String.valueOf(m.content), String.valueOf(e.getMessage),
          sw.toString, op.name))
    }
}

/** Batch-at-a-time operator ≙ `@batch_process(wait, limit)`
  * (`motorway/decorators.py:5-11`, poll loop `intersection.py:102-111`).
  * Structured Streaming is already micro-batched, so `wait` maps to the
  * trigger interval; `limit` maps to per-partition chunking here.
  */
trait BatchIntersection[I, O] extends Serializable {
  def limit: Int = 500
  def processBatch(ms: Seq[Message[I]]): Iterator[Message[O]]
  def name: String = getClass.getSimpleName.stripSuffix("$")

  private[pipeline] def asPartitionFn: Iterator[Message[I]] => Iterator[Message[O]] =
    it => it.grouped(limit).flatMap(g => processBatch(g))
}

/** Keyed stateful operator ≙ the reference's instance-attribute state
  * (`examples/intersections.py:19-31`, `tests/sample_pipeline.py:48-56`)
  * — but checkpoint-backed and partition-safe instead of process-local
  * dicts that are lost on crash (SURVEY.md §1.3).
  *
  * `update(key, newMessages, currentState)` returns the new state and
  * the messages to emit.
  */
trait StatefulIntersection[K, I, S, O] extends Serializable {
  def key(m: Message[I]): K
  def initialState: S
  def update(key: K, inputs: Seq[Message[I]], state: S): (S, Seq[Message[O]])
  def name: String = getClass.getSimpleName.stripSuffix("$")

  /** Processing-time state timeout ≙ the controller's 30-minute
    * in-flight `MESSAGE_TIMEOUT` (`motorway/controller.py:31,176-180`):
    * a key receiving no messages for this long gets [[onTimeout]] and
    * its state dropped. None (default) = state lives forever. */
  def timeoutMillis: Option[Long] = None

  /** Emitted when a key times out (≙ the controller failing the tree →
    * replay/alert); default: emit nothing, just drop state. */
  def onTimeout(key: K, state: S): Seq[Message[O]] = Seq.empty
}
