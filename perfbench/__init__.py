"""Cold, layered benchmark of the engine; see README.md."""
