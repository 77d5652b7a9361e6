package graft.adhesive

import java.io.FileOutputStream
import java.nio.file.{Files, Path}
import java.util.jar.{Attributes, JarEntry, JarFile, JarOutputStream, Manifest}
import javax.tools.{JavaFileObject, StandardLocation, ToolProvider}

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._
import scala.util.Using

/** The package index behind [[InMemoryJavaCompiler]], on class paths built
  * from temp jars and directories: each kind of root must still resolve
  * the packages it holds, as a plain `javac -classpath` would.
  */
class ClassPathIndexSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val tmp = Files.createTempDirectory("cpindex")

  override def afterAll(): Unit =
    Using.resource(Files.walk(tmp))(_.sorted(java.util.Comparator.reverseOrder[Path]())
      .forEach(p => Files.delete(p)))

  /** Bytecode of a class whose compile-time constant `TAG` is `tag`:
    * javac inlines it into callers, so their bytecode shows which copy
    * of the class it resolved.
    */
  private def helper(fqn: String, tag: String): Map[String, Array[Byte]] = {
    val (pkg, cls) = fqn.splitAt(fqn.lastIndexOf('.'))
    InMemoryJavaCompiler.compile(fqn,
      s"package $pkg; public class ${cls.tail} " +
        s"""{ public static final String TAG = "$tag"; }""")
  }

  /** A jar of `classes` with file entries only (no directory entries);
    * with a `version`, a multi-release jar holding them only under
    * `META-INF/versions/<version>/`.
    */
  private def jar(name: String, classes: Map[String, Array[Byte]],
      classPath: String = "", version: Option[Int] = None): Path = {
    val path = tmp.resolve(name)
    Files.createDirectories(path.getParent)
    val mf = new Manifest
    mf.getMainAttributes.put(Attributes.Name.MANIFEST_VERSION, "1.0")
    if (classPath.nonEmpty) mf.getMainAttributes.put(Attributes.Name.CLASS_PATH, classPath)
    version.foreach(_ => mf.getMainAttributes.put(Attributes.Name.MULTI_RELEASE, "true"))
    val prefix = version.fold("")(v => s"META-INF/versions/$v/")
    val out = new JarOutputStream(new FileOutputStream(path.toFile), mf)
    try classes.foreach { case (c, bytes) =>
      out.putNextEntry(new JarEntry(prefix + c.replace('.', '/') + ".class"))
      out.write(bytes)
    } finally out.close()
    path
  }

  /** Compiles a class reading `fqn.TAG` against `roots` only and returns
    * the value javac inlined.
    */
  private def readTag(fqn: String, roots: Path*): String = {
    val out = InMemoryJavaCompiler.compile("edge.use.Use",
      s"package edge.use; public class Use { public static final String T = $fqn.TAG; }",
      new ClassPathIndex(roots))
    new BytecodeClassLoader(out, getClass.getClassLoader)
      .loadClass("edge.use.Use").getField("T").get(null).asInstanceOf[String]
  }

  test("a jar without directory entries is indexed from its entry names") {
    val j = jar("nodirs.jar", helper("edge.a.Helper", "a"))
    val entries = Using.resource(new JarFile(j.toFile))(_.entries.asScala.map(_.getName).toList)
    assert(!entries.exists(_.endsWith("/")), entries)
    assert(readTag("edge.a.Helper", j) == "a")
    val e = intercept[AdhesiveCompileException](readTag("edge.a.Helper"))
    assert(e.getMessage.contains("package edge.a does not exist"), e.getMessage)
  }

  test("a class only under a multi-release jar's versioned entries") {
    val j = jar("mr.jar", helper("edge.v.Helper", "v"), version = Some(9))
    assert(readTag("edge.v.Helper", j) == "v")
  }

  test("a jar reached only through a manifest Class-Path; missing and non-zip entries are skipped") {
    val inner = jar("lib/inner.jar", helper("edge.b.Helper", "b"))
    Files.writeString(tmp.resolve("lib/notes.txt"), "not a zip archive")
    val outer = jar("outer.jar", Map.empty,
      classPath = "lib/missing.jar lib/notes.txt lib/inner.jar")
    val index = new ClassPathIndex(Seq(outer))
    assert(index.rootsFor("edge.b", recurse = false).map(_.path) == Seq(inner))
    assert(readTag("edge.b.Helper", outer) == "b")
  }

  test("a classes directory root is listed for every package") {
    val dir = Files.createDirectories(tmp.resolve("classes"))
    helper("edge.c.Helper", "c").foreach { case (c, bytes) =>
      val f = dir.resolve(c.replace('.', '/') + ".class")
      Files.createDirectories(f.getParent)
      Files.write(f, bytes)
    }
    val index = new ClassPathIndex(Seq(dir))
    assert(index.rootsFor("any.pkg", recurse = false).map(_.path) == Seq(dir))
    assert(readTag("edge.c.Helper", dir) == "c")
  }

  test("the first root holding a class shadows later ones") {
    val first = jar("first.jar", helper("edge.d.Helper", "first"))
    val second = jar("second.jar", helper("edge.d.Helper", "second"))
    assert(readTag("edge.d.Helper", second, first) == "second")
    assert(readTag("edge.d.Helper", first, second) == "first")
  }

  test("a recursive CLASS_PATH listing reaches subpackages") {
    val a = jar("rec-a.jar", helper("edge.r.a.Helper", "a"))
    val b = jar("rec-b.jar", helper("edge.r.b.Helper", "b"))
    val fm = new IndexedFileManager(
      ToolProvider.getSystemJavaCompiler.getStandardFileManager(null, null, null),
      new ClassPathIndex(Seq(a, b)))
    try {
      def names(pkg: String, recurse: Boolean) =
        fm.list(StandardLocation.CLASS_PATH, pkg,
          java.util.Set.of(JavaFileObject.Kind.CLASS), recurse).asScala
          .map(fm.inferBinaryName(StandardLocation.CLASS_PATH, _)).toSet
      assert(names("edge.r", recurse = true) == Set("edge.r.a.Helper", "edge.r.b.Helper"))
      assert(names("edge", recurse = true) == Set("edge.r.a.Helper", "edge.r.b.Helper"))
      assert(names("edge.r", recurse = false).isEmpty)
      assert(names("edge.r.b", recurse = false) == Set("edge.r.b.Helper"))
    } finally fm.close()
  }
}
