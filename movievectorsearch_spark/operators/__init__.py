"""Relational + vector operators (SURVEY.md §2 inventory)."""
