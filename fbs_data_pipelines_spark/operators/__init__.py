"""Relational + pipeline operators (SURVEY §2.4–2.6, §2.11, and the
beyond-reference dedup/similarity surface plus multimodal column
plumbing over a sha256-derived decode stub)."""
