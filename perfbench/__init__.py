"""Log-analytics benchmark for the engine (see README.md)."""
