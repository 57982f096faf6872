"""The lakehouse benchmark (see run.py and NOTES.md)."""
