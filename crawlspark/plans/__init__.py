"""Driver-side plans: the BFS superstep loop, its cross-level state
and the append-only table store."""
