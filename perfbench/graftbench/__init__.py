"""graft-bench: the end-to-end and per-layer benchmark of the graft engine."""
