package graft

/** Committed test fixtures, resolved like the engine's own fixture
  * readers: `-Dgraft.fixtures.dir` overrides the root, default
  * `fixtures/` under the working directory.
  */
object Fixtures {

  /** The committed copy of the reference `data/raw_data` ontology tree. */
  val ontology: String = sys.props.getOrElse("graft.fixtures.dir",
    new java.io.File("fixtures").getAbsolutePath) + "/ontology/raw_data"
}
