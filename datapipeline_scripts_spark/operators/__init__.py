"""Core relational operator catalog (SURVEY.md §2.D)."""
