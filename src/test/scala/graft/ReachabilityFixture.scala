package graft.reachfixture

/** Tiny classes that `ReachabilitySpec` walks to pin each rule of its
  * method-level walk; the root is `Entry.run`. Nothing runs them.
  */
trait Sink { def write(n: Int): Int }

final class FileSink extends Sink { def write(n: Int): Int = n + 1 }

/** Named only inside generated Java text, the way expressions call
  * `DetMath`.
  */
object Kernels {
  def twice(x: Double): Double = 2 * x
  def thrice(x: Double): Double = 3 * x
}

/** The JDK calls `getAsInt`; nothing in graft does. */
final class Gen extends java.util.function.IntSupplier {
  def getAsInt: Int = 7
  def helper(n: Int): Int = n + getAsInt
}

object Util {
  def used(n: Int): Int = n
  def onlyFromDead(n: Int): Int = n
}

object Entry {
  def run(s: Sink, arg: String): Int =
    s.write(Util.used(1)) + new Gen().hashCode +
      s"graft.reachfixture.Kernels.twice($arg)".length
  def dead(): Int = Util.onlyFromDead(2)
}
