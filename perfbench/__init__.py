"""The project's benchmark (see run.py and README.md)."""
