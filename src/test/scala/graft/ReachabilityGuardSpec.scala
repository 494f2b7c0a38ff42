package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.xbean.asm9.{ClassReader, ClassVisitor, ClassWriter, FieldVisitor, MethodVisitor,
  Opcodes}
import org.apache.xbean.asm9.commons.{ClassRemapper, Remapper}
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Bytecode guard: every top-level definition in `src/main` is reached
  * from a supported entry point, so code that no entry point runs is
  * deleted rather than kept alive by its specs.
  *
  * The walk reads the compiled main classes and follows every class a
  * class file names (types, method and field owners, descriptors,
  * constants, lambda handles, enclosing and nested classes), starting
  * from the entry points' class files. A top-level definition is a
  * top-level class file: `Foo` for a class or trait, `Foo$` for an
  * object. A class and its companion object are judged apart, so an
  * object with callers does not vouch for a companion class that has
  * none. The static-forwarder class scalac emits beside an object
  * without a companion class (`Foo`: no constructor, not an interface)
  * is not a definition and is not judged. An object that declares
  * nothing but its own instance is reached through its nested classes. */
class ReachabilityGuardSpec extends AnyFunSuite {

  /** The supported entry points: the server and its HTTP API, the
    * driver contract (`SparkEntry`, `Bench`, `Verify`, `Explain`), the
    * scale-data generator and the executor-loss probe. */
  private val roots = Seq("graft.Serve", "graft.api.GraftServer", "graft.SparkEntry",
    "graft.Bench", "graft.Verify", "graft.Explain", "graft.tools.ScaleData",
    "graft.tools.ChaosProbe")

  private lazy val classDir: Path =
    Paths.get(graft.Serve.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)

  /** Internal name (`graft/Serve$`) → bytes of every main class file. */
  private lazy val classes: Map[String, Array[Byte]] = {
    val walk = Files.walk(classDir)
    try walk.iterator.asScala.filter(_.toString.endsWith(".class")).map { p =>
      classDir.relativize(p).toString.replace('\\', '/').stripSuffix(".class") ->
        Files.readAllBytes(p)
    }.toMap
    finally walk.close()
  }

  /** The dotted top-level name a class file sits under (its name up to
    * the first `$`), as [[roots]] names the entry points. */
  private def unit(internalName: String): String =
    internalName.takeWhile(_ != '$').replace('/', '.')

  /** True for a top-level class file (`graft/Foo`, `graft/Foo$`). */
  private def topLevel(internalName: String): Boolean = {
    val simple = internalName.substring(internalName.lastIndexOf('/') + 1)
    !simple.stripSuffix("$").contains('$')
  }

  /** Access flags and the names of the fields and methods a class declares. */
  private def declared(internalName: String): (Int, Set[String]) = {
    val reader = new ClassReader(classes(internalName))
    val names = mutable.Set.empty[String]
    reader.accept(new ClassVisitor(Opcodes.ASM9) {
      override def visitField(access: Int, name: String, desc: String, sig: String,
                              value: Any): FieldVisitor = { names += name; null }
      override def visitMethod(access: Int, name: String, desc: String, sig: String,
                               exceptions: Array[String]): MethodVisitor = { names += name; null }
    }, ClassReader.SKIP_CODE)
    (reader.getAccess, names.toSet)
  }

  /** True for the static-forwarder class of an object that has no
    * companion class: no constructor, not an interface. */
  private def forwarderOnly(internalName: String): Boolean =
    classes.contains(internalName + "$") && {
      val (access, names) = declared(internalName)
      (access & Opcodes.ACC_INTERFACE) == 0 && !names("<init>")
    }

  /** True for an object that declares nothing but its own instance: a
    * namespace for the classes nested in it. */
  private def namespaceOnly(internalName: String): Boolean =
    internalName.endsWith("$") &&
      (declared(internalName)._2 -- Set("<init>", "<clinit>", "MODULE$", "writeReplace")).isEmpty

  private def describe(internalName: String): String =
    if (internalName.endsWith("$")) s"object ${internalName.stripSuffix("$").replace('/', '.')}"
    else s"class ${internalName.replace('/', '.')}"

  /** Every internal name that `bytes` refers to. */
  private def references(bytes: Array[Byte]): Set[String] = {
    val seen = mutable.Set.empty[String]
    val recorder = new Remapper {
      override def map(internalName: String): String = { seen += internalName; internalName }
    }
    new ClassReader(bytes).accept(new ClassRemapper(new ClassWriter(0), recorder), 0)
    seen.toSet
  }

  test("every top-level definition in src/main is reached from an entry point") {
    assert(Files.isDirectory(classDir), s"main classes are not a directory: $classDir")
    assert(classes.nonEmpty)
    val reached = mutable.Set.empty[String]
    val pending = mutable.Stack.empty[String]
    def visit(name: String): Unit =
      if (classes.contains(name) && reached.add(name)) pending.push(name)
    val rootFiles = classes.keys.filter(n => roots.contains(unit(n)))
    assert(rootFiles.map(unit).toSet == roots.toSet, "an entry point has no class file")
    rootFiles.foreach(visit)
    while (pending.nonEmpty) references(classes(pending.pop())).foreach(visit)
    // scalac names a class nested in an object after the companion
    // class, not the object, so a namespace object is reached through
    // the classes nested in it.
    def nestedReached(n: String): Boolean =
      namespaceOnly(n) && reached.exists(r => r.startsWith(n) && r != n)
    val unreached = classes.keySet.filter(n =>
      topLevel(n) && !reached(n) && !forwarderOnly(n) && !nestedReached(n))
    if (unreached.nonEmpty)
      fail(s"no entry point reaches:\n${unreached.toSeq.sorted.map(describe).mkString("\n")}")
  }
}
