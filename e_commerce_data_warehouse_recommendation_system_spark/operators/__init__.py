"""Operator library: relational core (SURVEY.md SS2.2-2.8) plus the
text-analysis extension."""
