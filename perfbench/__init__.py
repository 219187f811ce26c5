"""Seeded closed-loop benchmark of the engine; see README.md."""
