"""Seeded, closed-loop benchmark of the sizing CLI; see run.py."""
