"""Operator library: relational core (SURVEY.md SS2.2-2.8) plus the
large-scale data-pipeline extensions (dedup, similarity, text)."""
