package graft

/** Fork-join over independent legs (guide §2.6: actions are only
  * sequential because the driver calls them sequentially — a second
  * job's tasks back-fill cores freed by the first job's stage tails
  * instead of waiting for its last task). Callers own the legality: the
  * legs must share no dependency in either direction.
  *
  * Leg 0 runs on the caller, every other leg on a NEW daemon thread.
  * New threads, not a pool (Scala's global `Future` pool included):
  * SparkContext local properties and the active session are inheritable
  * thread-locals, copied when a thread is created, so a fresh child
  * inherits the caller's job group and a cancellation reaches every
  * leg's jobs; a reused pool thread carries whatever an earlier task
  * left behind and is never interrupted by its submitter.
  *
  * Failures: every leg completes or fails before the call returns; the
  * first failure in LEG order wins and the others are attached to it as
  * suppressed. An interrupt of the caller (a stopped streaming query
  * interrupts its stream thread) — while it waits for the children, or
  * surfacing as leg 0's own InterruptedException — interrupts every
  * child and waits up to [[StopWaitMs]] in total for them to stop
  * before the InterruptedException propagates, with the caller's
  * interrupt flag restored.
  */
object Concurrently {

  /** How long an interrupted [[all]] waits for its children, in total. */
  final val StopWaitMs = 60000L

  /** Run every leg; their results in leg order. */
  def all[T](legs: Seq[() => T]): Seq[T] = {
    val results = new Array[Any](legs.length)
    val errors = new Array[Throwable](legs.length)
    def leg(i: Int): Unit =
      try results(i) = legs(i)() catch { case e: Throwable => errors(i) = e }
    val children = (1 until legs.length).map { i =>
      val t = new Thread(() => leg(i), s"graft-concurrently-$i")
      t.setDaemon(true)
      t
    }
    children.foreach(_.start())
    if (legs.nonEmpty) leg(0)
    var stop = errors.headOption.collect { case ie: InterruptedException => ie }.orNull
    if (stop == null)
      try children.foreach(_.join())
      catch { case ie: InterruptedException => stop = ie }
    if (stop != null) {
      children.foreach(_.interrupt())
      val deadline = System.nanoTime() + StopWaitMs * 1000000L
      children.foreach { t =>
        val leftMs = (deadline - System.nanoTime()) / 1000000L
        if (leftMs > 0) try t.join(leftMs) catch { case _: InterruptedException => () }
      }
      // only legs known to have ended: a still-running child's slot is unsettled
      val ended = 0 +: children.indices.filterNot(c => children(c).isAlive).map(_ + 1)
      ended.map(errors(_)).filter(e => e != null && (e ne stop)).foreach(stop.addSuppressed)
      Thread.currentThread().interrupt()
      throw stop
    }
    errors.find(_ != null).foreach { first =>
      errors.filter(e => e != null && (e ne first)).foreach(first.addSuppressed)
      throw first
    }
    results.toSeq.asInstanceOf[Seq[T]]
  }

  /** [[all]] over two legs of different result types. */
  def both[A, B](a: => A)(b: => B): (A, B) = {
    val r = all[Any](Seq(() => a, () => b))
    (r(0).asInstanceOf[A], r(1).asInstanceOf[B])
  }
}
