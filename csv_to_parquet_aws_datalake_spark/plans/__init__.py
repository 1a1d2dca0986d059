"""Plan reading and the anti-pattern lint every oracle-paired query clears."""
