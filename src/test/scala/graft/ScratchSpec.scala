package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** The per-JVM scratch base: store roots and sink scratch live under
  * `target/scratch/<pid>_<JVM start time>` (base 36) of the working
  * directory, so two JVMs over one corpus never share (and never delete)
  * each other's roots, and a JVM's base is gone once it exits.
  */
class ScratchSpec extends AnyFunSuite {

  test("scratch paths live under target/scratch/<run id> of the working " +
    "directory, one base per JVM") {
    val base = new File(Tables.scratchBase)
    assert(base.getParentFile === new File("target/scratch").getAbsoluteFile)
    assert(base.getName.startsWith(
      java.lang.Long.toString(ProcessHandle.current().pid(), 36) + "_"))
    assert(base.isDirectory)
    assert(Tables.scratch("a/b").startsWith(base.getPath + "/"))
    assert(new File(base, "a").isDirectory, "scratch creates the parent")
  }

  test("another JVM gets its own base, removed when that JVM exits") {
    val java = new File(System.getProperty("java.home"), "bin/java").getPath
    val proc = new ProcessBuilder(java, "-cp",
        System.getProperty("java.class.path"), "graft.ScratchProbe")
      .redirectErrorStream(true).start()
    val out = new String(proc.getInputStream.readAllBytes(),
      StandardCharsets.UTF_8)
    assert(proc.waitFor() === 0, out)
    val childBase = out.linesIterator.filter(_.nonEmpty).toSeq.last
    assert(childBase.startsWith(
      new File("target/scratch").getAbsolutePath + "/"), out)
    assert(childBase !== Tables.scratchBase)
    assert(!new File(childBase).exists(),
      "a JVM's scratch base must be removed when it exits")
    assert(new File(Tables.scratchBase).isDirectory,
      "another JVM's exit must leave this JVM's base alone")
  }
}

/** Writes one file under its own scratch base and prints the base. */
object ScratchProbe {
  def main(args: Array[String]): Unit = {
    Files.writeString(new File(Tables.scratch("probe/file")).toPath, "x")
    println(Tables.scratchBase)
  }
}
