package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite

class ConcurrentlySpec extends AnyFunSuite {

  test("tasks run side by side and their outcomes come back in declared order") {
    val (a, b) = (new CountDownLatch(1), new CountDownLatch(1))
    // each task waits for the other: run one after the other, both time out
    def meet(name: String, mine: CountDownLatch, other: CountDownLatch): () => String = () => {
      mine.countDown()
      if (other.await(30, TimeUnit.SECONDS)) name else s"$name timed out"
    }
    val slow: () => String = () => { Thread.sleep(200); "slow" }
    val outcomes = Concurrently.attempt(Seq(
      "slow" -> slow, "a" -> meet("a", a, b), "b" -> meet("b", b, a), "fast" -> (() => "fast")))
    assert(Concurrently.results(outcomes) === Seq("slow", "a", "b", "fast"))
  }

  test("the first failure in declared order is raised with the others suppressed") {
    val (second, third) = (new IllegalStateException("second"), new IllegalArgumentException("third"))
    val outcomes = Concurrently.attempt(Seq[(String, () => Int)](
      "first" -> (() => 1),
      "second" -> (() => { Thread.sleep(200); throw second }),
      "third" -> (() => throw third)))
    assert(outcomes.map(_.isRight) === Seq(true, false, false))
    val e = intercept[IllegalStateException](Concurrently.results(outcomes))
    assert(e eq second)
    assert(e.getSuppressed.toSeq === Seq(third))
  }
}
