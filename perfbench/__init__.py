"""The repo benchmark; see run.py and NOTES.md."""
