package graft

/** The reference's checked-in MapleJuice inputs (FIXTURES.md §A).
  *
  * `path(name)` is the reference checkout's own `mj_exe/<name>` when that
  * file exists, so a machine with the checkout still tests its bytes;
  * otherwise it is the regenerated copy the repo holds under
  * `src/test/resources/mj_exe/`, found on the test classpath. The copies
  * and their recipes are described in FIXTURES.md §A.
  */
object RefFixture {

  private val refDir = "/root/reference/mj_exe"

  def path(name: String): String = {
    val ref = new java.io.File(refDir, name)
    if (ref.isFile) ref.getPath
    else {
      val url = getClass.getResource(s"/mj_exe/$name")
      require(url != null, s"mj_exe/$name is neither in $refDir nor on the test classpath")
      java.nio.file.Paths.get(url.toURI).toString
    }
  }
}
