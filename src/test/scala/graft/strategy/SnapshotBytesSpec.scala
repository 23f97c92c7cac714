package graft.strategy

import java.nio.file.{Files, Path}
import org.scalatest.funsuite.AnyFunSuite

/** Pins the bytes [[RunSnapshot.save]] writes against files an earlier
  * build of the writer saved (`src/test/resources/snapshot/`, see
  * [[SnapshotBytes]]), and checks that a save → load → save cycle gives the
  * same bytes again.
  */
class SnapshotBytesSpec extends AnyFunSuite {

  private lazy val dir: Path = Files.createTempDirectory("snapshot_bytes")

  SnapshotBytes.snapshots.foreach { case (name, snap) =>
    val file = s"$name.state.json"

    test(s"$file matches its pin") {
      val p = dir.resolve(file)
      snap.save(p)
      assert(Files.readAllBytes(p).sameElements(
        Files.readAllBytes(SnapshotBytes.pinDir.resolve(file))), s"$file differs from its pin")
    }

    test(s"$file survives save, load and save byte for byte") {
      val first = dir.resolve(s"$name.first.json")
      val second = dir.resolve(s"$name.second.json")
      snap.save(first)
      RunSnapshot.load(first).get.save(second)
      assert(Files.readAllBytes(second).sameElements(Files.readAllBytes(first)))
    }
  }
}
