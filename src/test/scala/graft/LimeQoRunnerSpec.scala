package graft

import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import graft.strategy.ExplorationFixture

/** [[LimeQoRunner]]'s strategy table on the committed JOB-shape fixture. */
class LimeQoRunnerSpec extends AnyFunSuite {

  test("--max-rounds caps a random run") {
    val trace = Files.createTempDirectory("runner").resolve("random.json")
    val s = LimeQoRunner.strategy("random", Map("max-rounds" -> "2"), ExplorationFixture.w)
    assert(s.run(ExplorationFixture.w, None, Some(trace)).length == 2)
    assert(new ObjectMapper().readTree(trace.toFile).size == 2)
  }

  test("--max-rounds reaches every strategy without plans") {
    Seq("oracle", "qo_advisor", "random", "greedy", "limeqo").foreach { name =>
      val s = LimeQoRunner.strategy(name, Map("max-rounds" -> "1"), ExplorationFixture.w)
      assert(s.run(ExplorationFixture.w, None, None).length <= 1, name)
    }
  }

  test("the table rejects an unknown strategy and limeqo_plus without --plans") {
    intercept[IllegalArgumentException](LimeQoRunner.strategy("limeqo++", Map.empty, ExplorationFixture.w))
    intercept[IllegalArgumentException](LimeQoRunner.strategy("limeqo_plus", Map.empty, ExplorationFixture.w))
  }
}
