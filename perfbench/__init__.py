"""tokenc benchmark: see README.md."""
