"""Event-time operators that run on a batch or a streaming DataFrame
(SURVEY.md §2.11)."""
