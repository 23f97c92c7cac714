package graft.model

import java.io.ObjectStreamClass
import org.scalatest.funsuite.AnyFunSuite

/** A LimeQO+ snapshot carries its Java-serialized [[TCNN]], so the
  * stream-class versions of `TCNN` and `TCNN#Param` must not follow the
  * code: a computed serialVersionUID changes with any non-private member,
  * and a snapshot written by the previous build would then fail to resume
  * with `InvalidClassException`. Both are pinned to the values the JVM
  * computed for the first serialized form.
  */
class TCNNSerialVersionSpec extends AnyFunSuite {

  test("TCNN and TCNN#Param keep their pinned serialVersionUIDs") {
    assert(ObjectStreamClass.lookup(classOf[TCNN]).getSerialVersionUID == 3533514260118072882L)
    assert(ObjectStreamClass.lookup(classOf[TCNN#Param]).getSerialVersionUID == -7522081537482646179L)
  }
}
