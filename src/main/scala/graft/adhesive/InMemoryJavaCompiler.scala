package graft.adhesive

import java.io.{ByteArrayOutputStream, File}
import java.net.{URI, URL, URLClassLoader}
import java.nio.file.{Files, Path, Paths}
import java.util.jar.{Attributes, JarFile}
import javax.tools.JavaFileManager.Location
import javax.tools.JavaFileObject.Kind
import javax.tools.{
  DiagnosticCollector, FileObject, ForwardingJavaFileManager, JavaFileObject,
  SimpleJavaFileObject, StandardJavaFileManager, StandardLocation, ToolProvider
}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.Using

/** In-memory `javac` compilation of a single source string to bytecode,
  * DDL-time, driver-side. Functional counterpart of the reference's
  * `Compiler` (`/root/reference/java/src/main/java/.../Compiler.java:34-59`:
  * system compiler + in-memory file manager + map-backed classloader), but
  * returns the bytecode map instead of loading classes immediately — the
  * bytes must travel to executors inside the UDF closure (the distribution
  * problem the reference never faced, SURVEY §7.4 H1).
  *
  * Why a package index: the class path javac would search is the whole
  * `java.class.path` — under Spark, 287 jars (462 MB). A standard file
  * manager looks up each package in every class-path jar, so each
  * compile opened all of them as zip file systems (and re-read their
  * manifests), and threw that state away with the manager: about 260 ms
  * a compile on a 4-core host, nearly all of it reading jar directories.
  * The [[ClassPathIndex]], built once per JVM from jar entry names (about
  * 0.6 s, under 1 MB retained), names the few jars that hold each
  * package; each compile lists `CLASS_PATH` through those jars only
  * (about 70 ms).
  *
  * Why not one long-lived file manager instead: it is as fast, but keeps
  * the zip file system of every jar it ever opened alive — +49 MB of live
  * heap after ten compiles on the Spark class path. Here each compile
  * gets a fresh standard file manager, closed with the compile; only the
  * index outlives it.
  */
object InMemoryJavaCompiler {

  private lazy val classPath = new ClassPathIndex(
    System.getProperty("java.class.path").split(File.pathSeparator).toSeq
      .filter(_.nonEmpty).map(Paths.get(_)))

  /** Compile `source` (which must declare class `fqn`) against this JVM's
    * class path. Returns a map of binary class name → bytecode for every
    * emitted class (the declared class plus any nested/anonymous classes).
    *
    * @throws AdhesiveCompileException on any diagnostic error, message
    *         prefixed "Can't compile function" for parity with the
    *         reference (`Compiler.java:46-51`, asserted by
    *         `CompilerTest.java:33-45`).
    */
  def compile(fqn: String, source: String): Map[String, Array[Byte]] =
    compile(fqn, source, classPath)

  private[adhesive] def compile(
      fqn: String, source: String, index: ClassPathIndex)
      : Map[String, Array[Byte]] = {
    val compiler = ToolProvider.getSystemJavaCompiler
    if (compiler == null) {
      throw new AdhesiveCompileException(
        "Can't compile function: no system Java compiler (JRE instead of JDK?)")
    }
    val diagnostics = new DiagnosticCollector[JavaFileObject]
    val src = new SimpleJavaFileObject(
        URI.create(s"string:///${fqn.replace('.', '/')}.java"), Kind.SOURCE) {
      override def getCharContent(ignoreEncodingErrors: Boolean): CharSequence =
        source
    }
    // try/finally: a throwing getTask/call must still close the manager
    // (it holds the opened jars' file handles) — repeated failing DDL on
    // a long-lived driver would otherwise leak them
    val fm = new IndexedFileManager(
      compiler.getStandardFileManager(diagnostics, null, null), index)
    val ok =
      try compiler.getTask(null, fm, diagnostics, null, null,
        List(src).asJava).call()
      finally fm.close()

    if (!ok) {
      val msgs = diagnostics.getDiagnostics.asScala.map(_.toString).mkString("\n")
      throw new AdhesiveCompileException(s"Can't compile function:\n$msgs")
    }
    val classes = fm.out.view.mapValues(_.toByteArray).toMap
    if (!classes.contains(fqn)) {
      throw new AdhesiveCompileException(
        s"Can't compile function: compilation produced no class named $fqn " +
          s"(got: ${classes.keys.mkString(", ")})")
    }
    classes
  }
}

/** One class-path root (jar or classes directory) as a javac location of
  * its own, so a file manager can list it without the rest of the path.
  */
private[adhesive] final class ClassPathRoot(val path: Path) extends Location {
  override def getName: String = s"CLASS_PATH[$path]"
  override def isOutputLocation: Boolean = false
}

/** Which class-path roots hold which packages.
  *
  * `classPath` is expanded the way javac expands a class path: each jar
  * is followed by the entries of its manifest `Class-Path` (resolved
  * against the jar's directory), missing files and files that are no zip
  * archive are dropped, and repeats keep their first position. Jar packages come from entry names, not directory
  * entries, which some jars omit. Directories are listed for every
  * package. Lookups keep class-path order, so the first root holding a
  * class still shadows the rest.
  */
private[adhesive] final class ClassPathIndex(classPath: Seq[Path]) {

  // initialized before the index below, which reads it
  private val Versioned = "^META-INF/versions/\\d+/".r

  /** (roots in search order, indices of the directories among them,
    * package name → indices of the jars holding it)
    */
  private val (roots, dirs, jarsByPackage) = {
    val seen = mutable.Set.empty[Path]
    val found = mutable.ArrayBuffer.empty[ClassPathRoot]
    val dirIdx = new mutable.ArrayBuilder.ofInt
    val byPackage = mutable.HashMap.empty[String, mutable.ArrayBuilder.ofInt]
    def add(p: Path): Unit =
      if (Files.exists(p) && seen.add(p.toRealPath())) {
        val i = found.size
        if (Files.isDirectory(p)) {
          found += new ClassPathRoot(p)
          dirIdx += i
        } else readJar(p).foreach { case (packages, manifestClassPath) =>
          found += new ClassPathRoot(p)
          packages.foreach(byPackage.getOrElseUpdate(_, new mutable.ArrayBuilder.ofInt) += i)
          manifestClassPath.foreach(add)
        }
      }
    classPath.foreach(add)
    (found.toVector, dirIdx.result(), byPackage.view.mapValues(_.result()).toMap)
  }

  def urls: Array[URL] = roots.map(_.path.toUri.toURL).toArray

  /** The roots to list for `pkg`, in class-path order; with `recurse`,
    * also those holding any of its subpackages.
    */
  def rootsFor(pkg: String, recurse: Boolean): Seq[ClassPathRoot] = {
    val jars =
      if (!recurse) jarsByPackage.getOrElse(pkg, Array.emptyIntArray)
      else jarsByPackage.iterator.collect {
        case (p, js) if pkg.isEmpty || p == pkg || p.startsWith(pkg + ".") => js
      }.flatten.toArray
    (jars ++ dirs).distinct.sorted.toSeq.map(roots)
  }

  /** A jar's packages — those with a file entry; a multi-release jar's
    * `META-INF/versions/N/` entries count for the package beneath — and
    * its manifest `Class-Path`; None for a file that is no zip archive,
    * which javac skips as well.
    */
  private def readJar(jar: Path): Option[(Set[String], Seq[Path])] =
    Try(Using.resource(new JarFile(jar.toFile)) { jf =>
      val packages = jf.entries.asScala.map(_.getName).filterNot(_.endsWith("/"))
        .map { n =>
          val name =
            if (n.startsWith("META-INF/versions/")) Versioned.replaceFirstIn(n, "")
            else n
          name.substring(0, math.max(name.lastIndexOf('/'), 0)).replace('/', '.')
        }.toSet
      val manifestClassPath = Option(jf.getManifest)
        .flatMap(m => Option(m.getMainAttributes.getValue(Attributes.Name.CLASS_PATH)))
        .toSeq.flatMap(_.split("\\s+")).filter(_.nonEmpty)
        .flatMap(e => Try(Paths.get(jar.toUri.resolve(e))).toOption)
      (packages, manifestClassPath)
    }).toOption
}

/** The file manager of one compile: keeps emitted class files in memory
  * and answers `CLASS_PATH` listings from the jars `index` names for the
  * package, each under its own [[ClassPathRoot]] location, set on the
  * standard manager the first time this compile uses it.
  */
private[adhesive] final class IndexedFileManager(
    std: StandardJavaFileManager, index: ClassPathIndex)
    extends ForwardingJavaFileManager[StandardJavaFileManager](std) {

  val out = mutable.Map.empty[String, ByteArrayOutputStream]
  private val opened = mutable.Set.empty[ClassPathRoot]
  // listed file → the root it came from, for inferBinaryName
  private val origin = new java.util.IdentityHashMap[JavaFileObject, Location]

  override def list(
      location: Location, packageName: String, kinds: java.util.Set[Kind],
      recurse: Boolean): java.lang.Iterable[JavaFileObject] =
    if (location != StandardLocation.CLASS_PATH)
      super.list(location, packageName, kinds, recurse)
    else {
      val found = new java.util.ArrayList[JavaFileObject]
      for (root <- index.rootsFor(packageName, recurse)) {
        if (opened.add(root)) std.setLocationFromPaths(root, List(root.path).asJava)
        std.list(root, packageName, kinds, recurse).forEach { f =>
          origin.put(f, root)
          found.add(f)
        }
      }
      found
    }

  override def inferBinaryName(location: Location, file: JavaFileObject): String =
    super.inferBinaryName(origin.getOrDefault(file, location), file)

  // javac asks for this loader on every compile, to look for annotation
  // processors; the standard manager would first re-read all 287 jar
  // manifests to expand the default class path
  override def getClassLoader(location: Location): ClassLoader =
    if (location != StandardLocation.CLASS_PATH) super.getClassLoader(location)
    else new URLClassLoader(index.urls, getClass.getClassLoader)

  override def getJavaFileForOutput(
      location: Location, className: String, kind: Kind,
      sibling: FileObject): JavaFileObject = {
    val buf = new ByteArrayOutputStream()
    out(className) = buf
    new SimpleJavaFileObject(
        URI.create(s"mem:///${className.replace('.', '/')}.class"), kind) {
      override def openOutputStream() = buf
    }
  }
}
