"""On-box benchmark of the transcript-to-KG pipeline (see README.md)."""
