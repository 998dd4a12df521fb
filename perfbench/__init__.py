"""The repository's benchmark: see NOTES.md and run.py."""
