"""Two-workload benchmark of the vector collection (see README.md)."""
