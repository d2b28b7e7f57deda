"""Repository benchmark: see run.py and NOTES.md."""
